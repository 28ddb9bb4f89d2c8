package graft

import org.apache.spark.sql.DataFrame

import graft.index.{HNSW, HNSWGraph, IVFFlat, LSHForest}

/** Times single-query `search` on the three tiers that serve warm
  * (IVFFlat, HNSW, LSHForest), cold and then warm, on a seeded
  * clustered corpus built with the ann_serve index parameters. Per tier
  * and path it prints the p50 over the queries of one whole call and
  * the median of each of its parts: `search` itself (Dataset
  * construction and analysis on a cold plan, the whole job on a warm
  * one), optimizing, physical planning, and `collect()` (the
  * SQL-execution wrapper, codegen, the job and the result decode on a
  * cold plan). It also counts queries whose warm rows differ from the
  * cold ones (want 0). HNSW has no cold plan: both its paths run one
  * RDD job, decoding the shard blobs per call when cold.
  *
  * A second line per tier times a 100-query `searchMany`, cold and then
  * warm: the p50 over 10 calls of one whole call (the call and its
  * `collect()`), and the number of queries whose warm rows differ from
  * the cold ones (want 0).
  *
  * {{{
  * sbt "Test/runMain graft.SearchOneTiming 6000 128 40"
  * }}}
  * (arguments: corpus rows, dimension, queries; `SPARK_GRAFT_CPUS` sets
  * the local core count, default 4.) */
object SearchOneTiming {

  private type Call = (Seq[Double], Seq[(Long, Double)])

  /** (search, optimize, plan, collect) ms of one call, and its rows. */
  private def split(search: => DataFrame): Call = {
    var t = System.nanoTime
    def lap(): Double = { val now = System.nanoTime; val d = (now - t) / 1e6; t = now; d }
    val df = search
    val tSearch = lap()
    df.queryExecution.optimizedPlan
    val tOpt = lap()
    df.queryExecution.executedPlan
    val tPlan = lap()
    val rows = df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance"))).toSeq
    (Seq(tSearch, tOpt, tPlan, lap()), rows)
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** ms of one whole batch call, and its rows per qid. */
  private def timed(many: => DataFrame): (Double, Map[Long, Seq[(Long, Double)]]) = {
    val t = System.nanoTime
    val rows = many.collect()
    ((System.nanoTime - t) / 1e6, rows.toSeq.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance"))).sortBy(_.swap)
    })
  }

  def main(args: Array[String]): Unit = {
    val Seq(n, dim, nq) = (args.map(_.toInt).toSeq ++ Seq(6000, 128, 40).drop(args.length)).take(3)
    val spark = Sessions.local()
    import spark.implicits._
    val rnd = new scala.util.Random(17L)
    val centers = Array.fill(64)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    def point(): Array[Float] = {
      val c = centers(rnd.nextInt(centers.length))
      c.map(x => x + 0.8f * rnd.nextGaussian().toFloat)
    }
    val emb = (0 until n).map(i => (i.toLong, point())).toDF("id", "vector")
      .repartition(4).cache()
    emb.count()
    val queries = Seq.fill(nq)(point())
    val batch = (0 until 100).map(i => (i.toLong, point())).toDF("qid", "qvec")
    val reps = 5 // untimed warm-up calls per path
    val calls = 10 // timed batch calls per path
    val tiers: Seq[(String, () => Unit, () => Unit, Array[Float] => DataFrame,
        DataFrame => DataFrame)] = {
      val ivf = IVFFlat.build(emb, "id", "vector", IVFFlat.Params(
        k = math.max(16, (math.sqrt(n.toDouble) / 3).toInt), numAttempts = 1, maxIterations = 3))
      val hnsw = HNSW.build(emb, "id", "vector", HNSWGraph.Params(efConstruction = 40, m = 8))
      val lsh = LSHForest.build(emb, "id", "vector",
        LSHForest.Params(numTrees = 2, maxNodeSize = 512, probes = 4))
      Seq(("ivfflat", () => ivf.warm(): Unit, () => ivf.cool(), q => ivf.search(q, 10, 4),
          b => ivf.searchMany(b, "qid", "qvec", 10, 4)),
        ("hnsw", () => hnsw.warm(): Unit, () => hnsw.cool(), q => hnsw.search(q, 10),
          b => hnsw.searchMany(b, "qid", "qvec", 10)),
        ("lsh", () => lsh.warm(): Unit, () => lsh.cool(), q => lsh.search(q, 10),
          b => lsh.searchMany(b, "qid", "qvec", 10)))
    }
    for ((name, warm, cool, search, many) <- tiers) {
      def pass(): Seq[Call] = {
        queries.take(reps).foreach(q => search(q).collect())
        queries.map(q => split(search(q)))
      }
      def batchPass() = {
        (0 until reps).foreach(_ => many(batch).collect())
        (0 until calls).map(_ => timed(many(batch)))
      }
      val cold = pass()
      val coldMany = batchPass()
      warm()
      val hot = pass()
      val hotMany = batchPass()
      cool()
      def line(path: String, runs: Seq[Call]): String = {
        val parts = Seq("search", "optimize", "plan", "collect").zipWithIndex.map {
          case (p, i) => f"${path}_${p}_ms=${median(runs.map(_._1(i)))}%.1f"
        }
        f"${path}_p50_ms=${median(runs.map(_._1.sum))}%.1f " + parts.mkString(" ")
      }
      val differ = cold.zip(hot).count { case (c, h) => c._2 != h._2 }
      println(s"search-one tier=$name n=$n dim=$dim queries=$nq ${line("cold", cold)} " +
        s"${line("warm", hot)} rows_differ=$differ")
      val manyDiffer = coldMany.head._2.count { case (q, rows) => hotMany.head._2.get(q) != Some(rows) } +
        hotMany.head._2.keySet.count(q => !coldMany.head._2.contains(q))
      println(f"search-many tier=$name n=$n dim=$dim batch=100 calls=$calls " +
        f"cold_p50_ms=${median(coldMany.map(_._1))}%.1f warm_p50_ms=${median(hotMany.map(_._1))}%.1f " +
        s"rows_differ=$manyDiffer")
    }
    spark.stop()
  }
}
