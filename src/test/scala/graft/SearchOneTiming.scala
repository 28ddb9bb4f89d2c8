package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{HNSW, HNSWGraph, IVFFlat, LSHForest}

/** Times single-query `search` on the three tiers that serve through
  * one scan (IVFFlat, HNSW, LSHForest), cold and then warm, on a seeded
  * clustered corpus built with the ann_serve index parameters. Both
  * paths run the same scan in one RDD job inside `search`: a cold model
  * packs its rows (HNSW: decodes its shard graphs) for the call, a warm
  * one scans its resident copy. Per tier and path it prints the p50
  * over the queries of one whole call and the median of its two parts:
  * `search` itself (the job and the driver merge) and `collect()` of
  * the local result. It also counts queries whose warm rows differ from
  * the cold ones (want 0).
  *
  * A second line per tier times a 100-query `searchMany`, cold and then
  * warm: the p50 over 10 calls of one whole call (the call and its
  * `collect()`), and the number of queries whose warm rows differ from
  * the cold ones (want 0).
  *
  * A last line per tier times `build` on the same corpus cut into a
  * frame the way a caller that generates it on the driver does
  * (`parallelize` into 4 partitions, `toDF`, eager `localCheckpoint`):
  * the median seconds of 3 builds and the Spark jobs of one, under the
  * session's broadcast budget (`default_*`, where a small input may
  * finish on the driver) and under a budget of `-1` (`off_*`, every
  * distributed path).
  *
  * {{{
  * sbt "Test/runMain graft.SearchOneTiming 6000 128 40"
  * }}}
  * (arguments: corpus rows, dimension, queries; `SPARK_GRAFT_CPUS` sets
  * the local core count, default 4.) */
object SearchOneTiming {

  private type Call = (Seq[Double], Seq[(Long, Double)])

  /** (search, collect) ms of one call, and its rows. */
  private def split(search: => DataFrame): Call = {
    var t = System.nanoTime
    def lap(): Double = { val now = System.nanoTime; val d = (now - t) / 1e6; t = now; d }
    val df = search
    val tSearch = lap()
    val rows = df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance"))).toSeq
    (Seq(tSearch, lap()), rows)
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

  /** Seconds of one call of `body` and the Spark jobs it launched
    * ([[SparkSpec.launchedBy]]). */
  private def jobsAndSeconds(spark: SparkSession)(body: => Unit): (Double, Int) = {
    var secs = 0.0
    val jobs = SparkSpec.launchedBy(spark.sparkContext) {
      val t = System.nanoTime
      body
      secs = (System.nanoTime - t) / 1e9
    }.jobs.size
    (secs, jobs)
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
    val corpus = (0 until n).map(i => (i.toLong, point()))
    val emb = corpus.toDF("id", "vector")
      .repartition(4).cache()
    emb.count()
    val queries = Seq.fill(nq)(point())
    val batch = (0 until 100).map(i => (i.toLong, point())).toDF("qid", "qvec")
    val reps = 5 // untimed warm-up calls per path
    val calls = 10 // timed batch calls per path
    val ivfParams = IVFFlat.Params(
      k = math.max(16, (math.sqrt(n.toDouble) / 3).toInt), numAttempts = 1, maxIterations = 3)
    val hnswParams = HNSWGraph.Params(efConstruction = 40, m = 8)
    val lshParams = LSHForest.Params(numTrees = 2, maxNodeSize = 512, probes = 4)
    val tiers: Seq[(String, () => Unit, () => Unit, Array[Float] => DataFrame,
        DataFrame => DataFrame)] = {
      val ivf = IVFFlat.build(emb, "id", "vector", ivfParams)
      val hnsw = HNSW.build(emb, "id", "vector", hnswParams)
      val lsh = LSHForest.build(emb, "id", "vector", lshParams)
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
        val parts = Seq("search", "collect").zipWithIndex.map {
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
    val ckpt = spark.sparkContext.parallelize(corpus, 4).toDF("id", "vector").localCheckpoint(true)
    val builds: Seq[(String, () => Unit)] = Seq(
      "ivfflat" -> (() => IVFFlat.build(ckpt, "id", "vector", ivfParams).indexed.unpersist(): Unit),
      "hnsw" -> (() => HNSW.build(ckpt, "id", "vector", hnswParams).cool()),
      "lsh" -> (() => LSHForest.build(ckpt, "id", "vector", lshParams).cool()))
    for ((name, build) <- builds) {
      def timed(): (Double, Int) = {
        val runs = (0 until 3).map(_ => jobsAndSeconds(spark)(build()))
        (median(runs.map(_._1)), runs.last._2)
      }
      build() // untimed warm-up
      val (dflt, dfltJobs) = timed()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (off, offJobs) = try timed() finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      println(f"build tier=$name n=$n dim=$dim frame=checkpointed_rdd default_s=$dflt%.3f " +
        f"default_jobs=$dfltJobs off_s=$off%.3f off_jobs=$offJobs")
    }
    spark.stop()
  }
}
