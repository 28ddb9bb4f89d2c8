package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{Cells, IVFFlat}

/** [[IVFFlat.build]] on its driver path (an input whose size estimate is
  * under the session's broadcast budget) and on its MLlib path (budget
  * `-1`): reproducible centroids, tight sizes, one job, and the same
  * answer to bad inputs. */
class IVFFlatBuildSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  private val params = IVFFlat.Params(k = 10, numAttempts = 2, maxIterations = 10)

  private def bits(m: IVFFlat.Model): Seq[Seq[Int]] =
    m.centroids.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  test("DriverGate: within both the budget and the cap; a -1 budget never fits") {
    import graft.index.DriverGate.fits
    assert(fits(10L, 10L, 20L) && fits(10L, 20L, 10L) && fits(0L, 0L, 0L))
    assert(!fits(11L, 10L, 20L) && !fits(11L, 20L, 10L))
    assert(!fits(0L, -1L, 20L))
  }

  test("driver build: bit-identical centroids across runs and partitionings") {
    val a = IVFFlat.build(emb, "vec_id", "embedding", params)
    val b = IVFFlat.build(emb, "vec_id", "embedding", params)
    val c = IVFFlat.build(emb.repartition(3), "vec_id", "embedding", params)
    val d = IVFFlat.build(emb.coalesce(1), "vec_id", "embedding", params)
    assert(a.centroids.length == params.k)
    assert(bits(a) == bits(b) && bits(a) == bits(c) && bits(a) == bits(d))
    Seq(a, b, c, d).foreach(_.indexed.unpersist())
  }

  test("driver build: clusterSizes equal the indexed frame's counts") {
    val m = IVFFlat.build(emb, "vec_id", "embedding", params)
    assert(m.clusterSizes.toSeq == Cells.sizes(m.indexed, params.k).toSeq)
    assert(m.clusterSizes.sum == emb.count())
    m.indexed.unpersist()
  }

  test("a driver build launches at most one job; a -1 budget trains with MLlib") {
    assert(jobsOf(IVFFlat.build(emb, "vec_id", "embedding", params).indexed.unpersist()) <= 1)
    assert(withBudget("-1")(jobsOf(
      IVFFlat.build(emb, "vec_id", "embedding", params).indexed.unpersist())) > 1)
  }

  test("both paths index every row and find each row's own vector first") {
    for ((path, m) <- onBothPaths(IVFFlat.build(emb, "vec_id", "embedding", params))) {
      assert(m.clusterSizes.sum == 500L, path)
      val q = emb.filter(col("vec_id") === 7).select(col("embedding").cast("array<float>"))
        .head().getAs[scala.collection.Seq[Float]](0).toArray
      assert(m.search(q, 1).head().getAs[Long]("id") == 7L, path)
      m.indexed.unpersist()
    }
  }

  test("fewer distinct vectors than k: both paths keep one centroid per distinct vector") {
    val rows = (0 until 30).map(i => (i.toLong, Array.fill(4)((i % 5).toFloat)))
      .toDF("id", "vector")
    val got = onBothPaths(IVFFlat.build(rows, "id", "vector", IVFFlat.Params(k = 8)))
    for ((path, m) <- got) {
      assert(m.centroids.length == 5, path)
      assert(m.clusterSizes.length == 8 && m.clusterSizes.sum == 30L, path)
      assert(m.clusterSizes.toSeq == Cells.sizes(m.indexed, 8).toSeq, path)
    }
  }

  /** The IllegalArgumentException each path throws building `rows`. */
  private def refusals(rows: DataFrame): Seq[(String, String)] =
    onBothPaths {
      val e = intercept[Exception](IVFFlat.build(rows, "id", "vector", IVFFlat.Params(k = 2)))
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x }
      assert(iae.isDefined, s"no IllegalArgumentException in $e")
      iae.get.getMessage
    }

  private def vecRows(rows: (Long, Array[Float])*): DataFrame = rows.toDF("id", "vector")

  test("an empty input fails on both paths") {
    for ((path, msg) <- refusals(vecRows().filter(lit(false))))
      assert(msg == "IVFFlat.build has no rows to cluster", path)
  }

  test("a null vector fails on both paths, naming its id") {
    val rows = vecRows((1L, Array(1f, 0f)), (5L, null), (9L, Array(0f, 1f)), (3L, Array(1f, 1f)))
    for ((path, msg) <- refusals(rows))
      assert(msg == "IVFFlat.build row 5 has a null vector", path)
  }

  test("a wrong-dimension vector fails on both paths, naming its id") {
    val rows = vecRows((2L, Array(1f, 0f)), (8L, Array(0f, 1f, 0f)), (4L, Array(0f, 1f)),
      (6L, Array(1f, 1f)))
    for ((path, msg) <- refusals(rows))
      assert(msg == "IVFFlat.build row 8 has dim 3 != dim 2 of row 2", path)
  }
}
