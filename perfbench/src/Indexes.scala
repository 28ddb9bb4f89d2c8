package perfbench

import org.apache.spark.sql.DataFrame

import graft.index.{HNSW, HNSWGraph, IVFFlat, LSHForest}

/** The three index types behind one face, so the serving loop is written
  * once. Parameters are fixed here, never derived from the seed. */
sealed trait Index {
  def name: String
  def search(q: Array[Float], k: Int): DataFrame
  def searchMany(queries: DataFrame, k: Int): DataFrame // queries: (qid, qvec)
  def warm(): Unit
}

final case class Ivf(m: IVFFlat.Model) extends Index {
  def name = "ivfflat"
  def search(q: Array[Float], k: Int) = m.search(q, k, Index.IvfProbe)
  def searchMany(qs: DataFrame, k: Int) = m.searchMany(qs, "qid", "qvec", k, Index.IvfProbe)
  def warm() = { m.warm(); () }
}

final case class Hnsw(m: HNSW.Model) extends Index {
  def name = "hnsw"
  def search(q: Array[Float], k: Int) = m.search(q, k)
  def searchMany(qs: DataFrame, k: Int) = m.searchMany(qs, "qid", "qvec", k)
  def warm() = { m.warm(); () }
}

final case class Lsh(m: LSHForest.Model) extends Index {
  def name = "lsh"
  def search(q: Array[Float], k: Int) = m.search(q, k)
  def searchMany(qs: DataFrame, k: Int) = m.searchMany(qs, "qid", "qvec", k)
  def warm() = { m.warm(); () }
}

object Index {
  val Names = Seq("ivfflat", "hnsw", "lsh")
  val IvfProbe = 4

  /** IVF cell count for a corpus of n rows: about √n / 3, at least 16. */
  def ivfParams(n: Long) =
    IVFFlat.Params(k = math.max(16, (math.sqrt(n.toDouble) / 3).toInt), numAttempts = 1, maxIterations = 3)

  def build(name: String, df: DataFrame, n: Long): Index = name match {
    case "ivfflat" => Ivf(IVFFlat.build(df, "id", "vector", ivfParams(n)))
    case "hnsw" => Hnsw(HNSW.build(df, "id", "vector", HNSWGraph.Params(efConstruction = 40, m = 8)))
    case "lsh" => Lsh(LSHForest.build(df, "id", "vector",
      LSHForest.Params(numTrees = 2, maxNodeSize = 512, probes = 4)))
  }
}
