package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): run one or more
  * bench lanes under a SparkListener and report where the wall-clock
  * goes — per-Spark-job wall time with the job's description/callsite,
  * plus the driver-side gaps BETWEEN jobs (planning, collects,
  * checkpoint setup) which job metrics alone cannot show.
  *
  * The timed action is the bench's own (`fn(spark, sfDir).count()`)
  * so the profile decomposes exactly what Bench measures.
  *
  * Usage: runMain graft.tools.LaneProfile <sfDir> <lane[,lane...]> [reps]
  */
object LaneProfile {
  /** `stages`/`tasks` count every stage of the job, skipped ones
    * included; `ran` counts the stages it actually submitted, so a job
    * whose shuffle map stage another job already ran shows ran < stages. */
  private case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L, var tasks: Int = 0,
                            var stages: Int = 0, var ran: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val lanes = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Sessions.local()
    spark.range(1 << 16).selectExpr("sum(id * id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.sql("CREATE TABLE IF NOT EXISTS bench_warmup_tbl(id BIGINT) USING parquet")
    spark.sql("DROP TABLE IF EXISTS bench_warmup_tbl")

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val byId = mutable.HashMap.empty[Int, JobRec]
    // stage → the latest started job holding it (the one that submits it)
    val stageJob = mutable.HashMap.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        val r = JobRec(js.jobId, desc, js.time)
        r.stages = js.stageInfos.size
        r.tasks = js.stageInfos.map(_.numTasks).sum
        jobs += r; byId(js.jobId) = r
        js.stageIds.foreach(stageJob(_) = r)
      }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = synchronized {
        stageJob.get(ss.stageInfo.stageId).foreach(_.ran += 1)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        byId.get(je.jobId).foreach(_.end = je.time)
      }
    }

    for (lane <- lanes) {
      val fn = graft.SparkEntry.queries.find(_._1 == lane)
        .getOrElse(sys.error(s"no lane $lane"))._2
      var last = 0.0
      for (rep <- 1 to reps) {
        jobs.clear(); byId.clear(); stageJob.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        // match Bench: reset storage between measurements
        spark.catalog.clearCache()
        last = dt
        if (rep == reps) {
          println(f"%n=== $lane rep$rep: $dt%.3f s, ${jobs.size} jobs ===")
          val t0ms = if (jobs.nonEmpty) jobs.head.start else 0L
          var prevEnd = t0ms
          var gapTot = 0L
          for (j <- jobs.sortBy(_.start)) {
            val gap = j.start - prevEnd
            gapTot += math.max(0L, gap)
            val dur = j.end - j.start
            println(f"  job${j.id}%4d +${(j.start - t0ms)}%6dms gap=${gap}%5dms dur=${dur}%6dms stages=${j.stages}%2d ran=${j.ran}%2d tasks=${j.tasks}%4d  ${j.desc.take(110)}")
            prevEnd = math.max(prevEnd, j.end)
          }
          val jobTot = jobs.map(j => j.end - j.start).sum
          println(f"  jobs-total=${jobTot}ms inter-job-gaps=${gapTot}ms wall=${(dt * 1000).toLong}ms (pre-first-job + tail not shown)")
        }
      }
      println(f"$lane final=$last%.3f s")
    }
    spark.stop()
  }
}
