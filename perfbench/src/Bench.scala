package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** State of one benchmark run: the session, the timers, the error
  * count, the tracer and the metrics it reports. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val tmp: Path) {
  val slots: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val tr = new Tracer(traced)
  val ledgers = mutable.ArrayBuffer[JobLedger]()
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  /** Seconds (or values) recorded per name; restored between loops. */
  var samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Every end-to-end metric of the workload, by its documented name. */
  val detail = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, Double]()
  var checksum = ""

  def startSession(): SparkSession = {
    if (spark != null) stopSession()
    val local = tmp.resolve("spark").toString
    spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // as graft.Bench: keep per-task top-k groups hash-aggregated
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(tmp.resolve("checkpoints").toString)
    if (traced) {
      val l = new JobLedger
      l.attach(spark.sparkContext)
      ledgers += l
    }
    spark
  }

  def stopSession(): Unit = {
    if (traced) ledgers.last.drain(spark.sparkContext)
    spark.catalog.clearCache()
    spark.stop()
    spark = null
  }

  def rec(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def vals(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq
  def med(name: String): Double = Stats.median(vals(name))
  def sum(name: String): Double = vals(name).sum

  /** One operation: time `body` (recorded under `name` and, when
    * tracing, as a span charged to Spark op `op`), then check its
    * output. A throw or a failed check counts as failed and records no
    * time, so a broken call never reads as a fast one. */
  def call[T](name: String, op: String)(body: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Some(tr(name, op)(body)) catch {
      case e: Exception => problem(s"$name threw ${e.toString.linesIterator.next().take(300)}"); None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    out.filter { v =>
      val ok = try check(v) catch { case e: Exception => problem(s"$name check threw $e"); false }
      if (ok) rec(name, secs) else problem(s"$name failed its output check")
      ok
    }.orElse { failed += 1; None }
  }

  def problem(msg: String): Unit = if (problems.size < 50) problems += msg

  private val born = System.nanoTime()
  /** Progress line in the run's log (stderr). */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%8.2fs $msg")

  /** Collect a frame and charge its planning time to the open span. */
  def collect(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    tr.planned(df)
    rows
  }

  /** (id, vector) frame of `v`, materialized on the executors. */
  def vecFrame(v: Vecs): DataFrame = {
    val s = spark
    import s.implicits._
    materialized(s.sparkContext.parallelize(v.ids.toSeq.zip(v.vecs), slots).toDF("id", "vector"))
  }

  /** Cut a driver-built frame's lineage into executor blocks, so later
    * tasks do not carry the driver-side rows. */
  def materialized(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def queryFrame(v: Vecs, idx: Seq[Int]): DataFrame = {
    val s = spark
    import s.implicits._
    idx.map(i => (i.toLong, v.vecs(i))).toDF("qid", "qvec")
  }

  /** An id below every RDD created from now on. */
  def rddMark(): Int = spark.sparkContext.emptyRDD[Int].id

  /** Block-manager bytes of the RDDs created after `mark` that are still
    * persisted (cached frames and checkpoints). */
  def residentSince(mark: Int): Long = {
    val live = spark.sparkContext.getPersistentRDDs.keySet.filter(_ > mark)
    spark.sparkContext.getRDDStorageInfo.filter(i => live(i.id)).map(i => i.memSize + i.diskSize).sum
  }

  def e2e(name: String, value: Double, unit: String): Unit = detail(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p50…p99.9 with at least ten samples beyond it:
    * (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}

/** A workload: set-up (run several times, the last state kept), warm-up
  * and a closed measured loop. */
trait Workload {
  /** One full set-up from a fresh session. */
  def setup(r: Run): Unit
  /** Untimed warm-up before the loop: every engine call the loop makes,
    * on the state of the last set-up. */
  def warmup(r: Run): Unit
  /** Run operations until `deadline` (nanoTime). */
  def loop(r: Run, deadline: Long): Unit
  /** Derive the end-to-end metrics of the loop into `r.detail`, and its
    * gate metrics: (op_p50_ms, work_per_s, quality). */
  def report(r: Run): (Double, Double, Double)
  /** Per-layer metrics from the samples of a traced loop. */
  def layers(r: Run): Unit
}

object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val r = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("tmp")).toAbsolutePath)
    val w: Workload = r.workload match {
      case "ann_serve" => new AnnServe
      case "pipeline_dedup" => new PipelineDedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calibMs = calibrate()

    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      r.startSession()
      r.log("session started")
      w.setup(r)
      r.log("set-up done")
      (System.nanoTime() - t0) / 1e9
    }
    // once, not per set-up: the warm-up of pipeline_dedup is a whole
    // pass. It is not traced, and its samples are not the loop's.
    val beforeWarm = r.samples.map { case (k, v) => k -> v.clone() }
    r.tr.on = false
    val t0 = System.nanoTime()
    w.warmup(r)
    val warmS = (System.nanoTime() - t0) / 1e9
    r.tr.on = r.traced
    r.samples = beforeWarm
    r.log("warm-up done")
    val setupMedS = Stats.median(setupS) + warmS
    val afterSetup = r.samples.map { case (k, v) => k -> v.clone() }

    def measure(seconds: Double): Unit = w.loop(r, System.nanoTime() + (seconds * 1e9).toLong)

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!r.traced) {
      measure(r.seconds)
      val (p50, work, quality) = w.report(r)
      if (!Seq(p50, work, quality).forall(x => x > 0 && x < Double.PositiveInfinity))
        r.problem("an end-to-end metric is not a positive number")
      r.e2e("setup_s", setupMedS, "s")
      r.e2e("warmup_s", warmS, "s")
      r.e2e("error_rate", r.failed.toDouble / math.max(r.attempted, 1L), "fraction")
      metrics ++= Seq("setup_s" -> (setupMedS, "s"),
        "op_p50_ms" -> (p50, "ms"), "work_per_s" -> (work, "1/s"),
        "quality" -> (quality, "fraction"))
    } else {
      // untraced half, traced whole, untraced half: the loop still warms
      // up as it runs, and the halves either side cancel that drift out
      // of the overhead (the change in op_p50_ms)
      val sc = r.spark.sparkContext
      val ledger = r.ledgers.last
      r.ledgers.foreach(sc.removeSparkListener)
      r.tr.on = false
      measure(r.seconds / 2)
      val plainSamples = r.samples
      r.samples = afterSetup.map { case (k, v) => k -> v.clone() }
      ledger.attach(sc)
      r.tr.on = true
      measure(r.seconds)
      val traced = w.report(r)._1
      r.layer("box.calib_ms") = calibMs
      w.layers(r)
      ledger.drain(sc)
      r.layer ++= SparkOps.metrics(r.tr, r.ledgers.flatMap(_.snapshot).toSeq, r.slots)
      sc.removeSparkListener(ledger)
      r.tr.on = false
      r.samples = plainSamples
      measure(r.seconds / 2)
      r.layer("trace.overhead_ratio") = traced / w.report(r)._1 - 1
      Layers.All.foreach { case (n, u) => metrics(n) = (r.layer.getOrElse(n, 0.0), u) }
      val out = Paths.get(a("spans"))
      Files.createDirectories(out.getParent)
      Files.writeString(out, r.tr.toJson)
      val selfPath = Paths.get(a("spans").stripSuffix(".json") + "_self.json")
      Files.writeString(selfPath, r.tr.selfSeconds.toSeq.sortBy(-_._2)
        .map { case (n, s) => s""""$n":$s""" }.mkString("{\n", ",\n", "\n}"))
    }
    r.stopSession()

    def obj(m: Iterable[(String, (Double, String))]): String = m.map { case (n, (v, u)) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val correct = r.problems.isEmpty
    val json = s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${obj(metrics)},"detail":${obj(r.detail)},"checksum":"${r.checksum}",""" +
      s""""box_calib_ms":${num(calibMs)},"problems":[${r.problems.map(p => "\"" + esc(p) + "\"").mkString(",")}]}"""
    Files.writeString(Paths.get(a("result")), json)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }

  /** Fixed pure-JVM loop; its time records box drift in the artifact. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x12345678L; var acc = 0.0; var i = 0
      while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; acc += (x >>> 40) * 1e-9; i += 1 }
      if (acc < 0) println(acc)
      (System.nanoTime() - t0) / 1e6
    }
    once() // JIT
    Stats.median(Seq.fill(3)(once()))
  }
}
