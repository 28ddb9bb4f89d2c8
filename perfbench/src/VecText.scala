package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.Path

/** Writes vectors in the fastText `.vec` text format: a `n dim` header,
  * then `word f1 … fdim` per line, in the given row order. */
object VecText {
  def write(p: Path, v: Vecs, order: Seq[Int]): Unit = {
    val w = new BufferedWriter(new FileWriter(p.toFile), 1 << 20)
    try {
      w.write(s"${v.size} ${Gen.Dim}\n")
      for (i <- order) {
        w.write("w"); w.write(v.ids(i).toString)
        v.vecs(i).foreach { x => w.write(' '); w.write(java.lang.Float.toString(x)) }
        w.write('\n')
      }
    } finally w.close()
  }
}
