package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.Dataset

/** One traced call into a layer. Times are `System.nanoTime`. `op` names
  * the Spark-counter bucket the call's jobs are charged to; a span
  * without one charges its nearest tagged ancestor. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val request: Long, val op: String, val start: Long) {
  var end: Long = -1L
  var planMs: Double = 0.0
}

/** Spans kept in memory and written when the run ends. A disabled
  * tracer records nothing and costs one branch per call. */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var request: Long = 0L

  def apply[T](name: String, op: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        request, op, System.nanoTime())
      spans += s
      stack = s :: stack
      try f finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Charge a frame's Catalyst phase times (analysis, optimization,
    * planning) to the innermost open span. Call after the frame ran. */
  def planned(df: Dataset[_]): Unit =
    if (on && stack.nonEmpty)
      stack.head.planMs += df.queryExecution.tracker.phases.values.map(_.durationMs).sum

  /** Self time per span name: duration minus the time its children cover
    * (children of one client thread never overlap). */
  def selfSeconds: Map[String, Double] = {
    val child = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - child(s.id)).sum / 1e9 }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
      s""""op":"${s.op}","start_ns":${s.start},"end_ns":${s.end},"plan_ms":${s.planMs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Spark counters per job. Registered only in traced runs. Each job is
  * attributed, after the run, to the innermost span open at its submit
  * time: with one client thread that attribution is exact, and it also
  * catches jobs the engine submits from its own pool threads, which do
  * not carry the caller's local properties. */
final class JobLedger extends SparkListener {
  final class Job(val startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0L; var runMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def snapshot: Seq[Job] = synchronized(jobs.values.toVector)
}

/** Per-op Spark counters, per call, from spans plus the job ledger. */
object SparkOps {
  val Ops = Seq("search_one", "search_batch", "build", "knn_join", "semdedup", "text_dedup")

  def metrics(tr: Tracer, jobs: Seq[JobLedger#Job], slots: Int): Map[String, Double] = {
    // nanoTime ↔ epoch-ms: job times are listener-event wall clocks
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def nsOf(ms: Long): Long = ms * 1000000L - offsetNs
    val byId = tr.spans.map(s => s.id -> s).toMap
    // a job's epoch-ms time is truncated, so widen each span by 1 ms and
    // take the latest-starting (innermost) span that contains it
    val tol = 1000000L
    def owner(t: Long): Option[Span] =
      tr.spans.filter(s => s.start - tol <= t && t <= s.end + tol).maxByOption(_.start)
    def opSpan(s: Span): Option[Span] =
      if (s.op.nonEmpty) Some(s) else byId.get(s.parent).flatMap(opSpan)
    val jobsOf = mutable.Map[Int, mutable.ArrayBuffer[JobLedger#Job]]()
    jobs.foreach { j =>
      owner(nsOf(j.startMs)).flatMap(opSpan).foreach(s =>
        jobsOf.getOrElseUpdate(s.id, mutable.ArrayBuffer()) += j)
    }
    Ops.flatMap { op =>
      val calls = tr.spans.filter(_.op == op)
      val n = math.max(calls.size, 1).toDouble
      val js = calls.flatMap(s => jobsOf.getOrElse(s.id, Nil))
      val wallNs = calls.map(s => s.end - s.start).sum
      val gapNs = calls.map { s =>
        val busy = jobsOf.getOrElse(s.id, Nil)
          .map(j => (math.max(nsOf(j.startMs), s.start), math.min(nsOf(j.endMs), s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var reach = s.start
        busy.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        s.end - s.start - covered
      }.sum
      val p = s"spark.$op."
      Seq(
        p + "jobs" -> js.size / n,
        p + "plan_ms" -> calls.map(_.planMs).sum / n,
        p + "driver_gap_ms" -> gapNs / 1e6 / n,
        p + "tasks" -> js.map(_.tasks).sum / n,
        p + "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum / n,
        p + "shuffle_read_bytes" -> js.map(_.shuffleRead).sum / n,
        p + "spill_bytes" -> js.map(_.spill).sum / n,
        p + "slot_util" -> (if (wallNs == 0) 0.0 else js.map(_.runMs).sum * 1e6 / (wallNs.toDouble * slots)))
    }.toMap
  }
}
