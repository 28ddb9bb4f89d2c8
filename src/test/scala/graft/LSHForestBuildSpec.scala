package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.LSHForest

/** [[LSHForest.build]] on its driver path (an input under the session's
  * broadcast budget) and on its distributed loop (budget `-1`): the
  * same forest, bit for bit, and the same answer to bad inputs. */
class LSHForestBuildSpec extends SparkSpec {
  import spark.implicits._

  /** Everything a build decides: per tree, each plane's path and the
    * bits of its coefficients and constant, and the leaf sizes; each
    * indexed row's id and paths, by id; and the indexed schema, with
    * nullability. */
  private def forest(m: LSHForest.Model) = {
    val trees = m.trees.map { t =>
      (t.planes.toSeq.map { case (p, (c, k0)) =>
        (p, c.toSeq.map(java.lang.Double.doubleToRawLongBits), java.lang.Double.doubleToRawLongBits(k0))
      }.sortBy(_._1), t.leafSizes)
    }
    val rows = m.indexed.select(col("id"), col("paths")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).sortBy(_._1).toSeq
    (trees, rows, m.indexed.schema)
  }

  /** A seeded corpus of one of four kinds, with exact duplicates and
    * −0.0 twins of some rows under new ids, ids shuffled. */
  private def corpus(seed: Int): (Seq[(Long, Array[Float])], LSHForest.Params) = {
    val r = new scala.util.Random(seed)
    val dim = 2 + r.nextInt(6)
    val n = 60 + r.nextInt(140)
    val kind = seed % 4
    val base: Seq[Array[Float]] = kind match {
      case 0 => // uniform on a small grid: zeros and exact duplicates abound
        Seq.fill(n)(Array.fill(dim)((r.nextInt(5) - 2).toFloat))
      case _ => // clustered around a few centres
        val centres = Array.fill(1 + r.nextInt(4))(Array.fill(dim)(r.nextGaussian().toFloat * 4))
        val spread = if (kind == 2) 1e-3 else 0.5
        Seq.fill(n) {
          val c = centres(r.nextInt(centres.length))
          c.map(x => (x + spread * r.nextGaussian()).toFloat)
        }
    }
    val twins = Seq.fill(1 + r.nextInt(8)) {
      val v = base(r.nextInt(base.length))
      if (r.nextBoolean()) v.clone() else v.map(x => if (x == 0f) -0f else x)
    }
    val zeroTwins = Seq(Array.fill(dim)(0f), Array.fill(dim)(-0f))
    val vecs = r.shuffle(base ++ twins ++ zeroTwins)
    val ids = r.shuffle((0 until vecs.length).map(i => 1000L + 3L * i))
    val params = kind match {
      case 3 => LSHForest.Params(numTrees = 2, maxNodeSize = Int.MaxValue, seed = seed)
      // tight clusters under a small leaf: the depth cap stops the loop
      case 2 => LSHForest.Params(numTrees = 2, maxNodeSize = 3, maxDepth = 4, seed = seed)
      case _ => LSHForest.Params(numTrees = 1 + r.nextInt(3), maxNodeSize = 4 + r.nextInt(12),
        maxDepth = 10, seed = seed)
    }
    (ids.zip(vecs), params.copy(dedupExact = seed % 3 != 0))
  }

  test("both paths build the same forest on seeded corpora") {
    var capped = 0
    var split = 0
    var deduped = 0
    for (seed <- 1 to 40) {
      val (rows, params) = corpus(seed)
      val df = rows.toDF("id", "vector")
      val Seq((_, driver), (_, loop)) = onBothPaths {
        val m = LSHForest.build(df, "id", "vector", params)
        try forest(m) finally m.cool()
      }
      assert(driver == loop, s"seed $seed, $params")
      val (trees, kept, _) = driver
      if (params.maxNodeSize == Int.MaxValue) assert(trees.forall(_._1.isEmpty), s"seed $seed")
      if (trees.exists(_._1.nonEmpty)) split += 1
      if (trees.exists(_._2.exists { case (p, n) => p.length == params.maxDepth && n > params.maxNodeSize }))
        capped += 1
      if (kept.length < rows.length) deduped += 1
      if (!params.dedupExact) assert(kept.length == rows.length, s"seed $seed")
    }
    assert(split >= 20 && capped >= 5 && deduped >= 10, s"split $split, capped $capped, deduped $deduped")
  }

  test("dedup keeps the lowest id of equal vectors, −0.0 equal to 0.0") {
    val rows = Seq((5L, Array(0f, 1f)), (2L, Array(-0f, 1f)), (9L, Array(1f, 1f)),
      (4L, Array(1f, 1f)), (7L, Array(2f, 0f)))
    for ((path, ids) <- onBothPaths(LSHForest.build(rows.toDF("id", "vector"), "id", "vector",
        LSHForest.Params(numTrees = 2, maxNodeSize = 1)).indexed.select("id").as[Long].collect().sorted.toSeq))
      assert(ids == Seq(2L, 4L, 7L), path)
  }

  test("a driver build launches at most two jobs") {
    val (rows, params) = corpus(5)
    val df = rows.toDF("id", "vector")
    var m: LSHForest.Model = null
    assert(jobsOf { m = LSHForest.build(df, "id", "vector", params) } <= 2)
    assert(m.trees.exists(_.planes.nonEmpty))
    m.cool()
  }

  /** The IllegalArgumentException each path throws building `rows`. */
  private def refusals(rows: DataFrame): Seq[(String, String)] =
    onBothPaths {
      val e = intercept[Exception](LSHForest.build(rows, "id", "vector",
        LSHForest.Params(numTrees = 2, maxNodeSize = 1)))
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x }
      assert(iae.isDefined, s"no IllegalArgumentException in $e")
      iae.get.getMessage
    }

  private def vecRows(rows: (Long, Array[Float])*): DataFrame = rows.toDF("id", "vector")

  test("an empty input fails on both paths") {
    for ((path, msg) <- refusals(vecRows().filter(lit(false))))
      assert(msg == "LSHForest.build has no rows to index", path)
  }

  test("a null vector fails on both paths, naming its id") {
    val rows = vecRows((1L, Array(1f, 0f)), (5L, null), (9L, Array(0f, 1f)), (3L, Array(1f, 1f)))
    for ((path, msg) <- refusals(rows))
      assert(msg == "LSHForest.build row 5 has a null vector", path)
  }

  test("a NaN vector fails on both paths, naming the lowest such id") {
    val rows = vecRows((1L, Array(1f, 0f)), (8L, Array(0f, Float.NaN)), (5L, Array(Float.NaN, 0f)),
      (9L, Array(0f, 1f)), (3L, Array(1f, 1f)))
    for ((path, msg) <- refusals(rows))
      assert(msg == "LSHForest.build row 5 has a NaN or infinite value", path)
  }

  test("a wrong-dimension vector fails on both paths, naming its id") {
    val rows = vecRows((2L, Array(1f, 0f)), (8L, Array(0f, 1f, 0f)), (4L, Array(0f, 1f)),
      (6L, Array(1f, 1f)))
    for ((path, msg) <- refusals(rows))
      assert(msg == "LSHForest.build row 8 has dim 3 != dim 2 of row 2", path)
  }
}
