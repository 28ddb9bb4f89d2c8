package graft

import org.apache.spark.sql.DataFrame

import graft.sources.VecFile

/** [[VecFile.read]] on its driver path (a small single file under the
  * session's broadcast budget) and on its distributed path (budget
  * `-1`): the same frames, the same failures, and no job on the
  * driver. */
class VecFileSpec extends SparkSpec {

  private def write(name: String, text: String): String = {
    val f = java.nio.file.Files.createTempDirectory("vecspec").resolve(name)
    java.nio.file.Files.writeString(f, text)
    f.toString
  }

  // CRLF and LF ends, a blank line, a short line (word and one number,
  // dropped like the header), special float tokens, surrounding blanks,
  // a zero vector (left unnormalized) and a last line with no newline
  private lazy val fixture = write("mixed.vec",
    "7 4\r\n" +
      "alpha 1 2 2 0\r\n" +
      "\r\n" +
      "beta NaN 1 0 0\n" +
      "gamma Infinity -0 1 0\n" +
      "short 1\n" +
      "delta inf 0 0 -1\r\n" +
      "queen 0 3 4 0\r\n" +
      "  eps\t-0 -0 0 0  \n" +
      "\n" +
      "zeta 3 4 0 0")

  /** Rows with every float as its raw bits, so NaN and -0 compare. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case v: scala.collection.Seq[_] =>
        v.map(x => java.lang.Float.floatToRawIntBits(x.asInstanceOf[Float])).toList
      case x => x
    })

  test("driver and distributed reads give identical corpus and holdout frames") {
    val Seq((_, driver), (_, loop)) = onBothPaths {
      val l = VecFile.read(spark, fixture, holdoutWord = Some("queen"))
      val out = (l.corpus.schema, bits(l.corpus.orderBy("id")),
        l.holdout.schema, bits(l.holdout))
      l.unpersist()
      out
    }
    assert(driver == loop)
    assert(driver._2.map(_(1)) == Seq("alpha", "beta", "gamma", "delta", "eps", "zeta"))
    assert(driver._2.map(_(0)) == (0L until 6L))
    assert(driver._4.map(_(0)) == Seq("queen"))
    assert(!driver._1("id").nullable)
  }

  test("a malformed token fails with the same error on both paths") {
    val bad = write("bad.vec", "2 3\nok 1 2 3\nbad 1 x 3\n")
    def rootOf(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val Seq((_, driver), (_, loop)) = onBothPaths {
      val e = intercept[Exception](VecFile.read(spark, bad).corpus.collect())
      val root = rootOf(e)
      (root.getClass, root.getMessage)
    }
    assert(driver == loop)
    assert(driver._2.contains("'x'"), driver._2)
  }

  test("a driver read launches at most one job; a -1 budget reads distributed") {
    assert(jobsOf(VecFile.read(spark, fixture).corpus.collect()) <= 1)
    def local(l: VecFile.Loaded): Boolean = l.corpus.queryExecution.analyzed
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(local(VecFile.read(spark, fixture)))
    val l = withBudget("-1")(VecFile.read(spark, fixture))
    assert(!local(l))
    l.unpersist()
  }
}
