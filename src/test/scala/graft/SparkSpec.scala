package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Whether `t` or one of its causes carries `needle` in its message —
    * a task's exception reaches the driver wrapped in a SparkException. */
  def hasMsg(t: Throwable, needle: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .exists(e => e.getMessage != null && e.getMessage.contains(needle))

  private val budgetKey = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` under a scoped broadcast budget (`-1` turns off every
    * driver finish of [[graft.index.DriverGate]]). */
  def withBudget[T](budget: String)(body: => T): T = {
    val old = spark.conf.getOption(budgetKey)
    spark.conf.set(budgetKey, budget)
    try body finally old.fold(spark.conf.unset(budgetKey))(spark.conf.set(budgetKey, _))
  }

  /** `body` on the driver finish (the session's default budget) and on
    * the distributed loop, labelled by path. */
  def onBothPaths[T](body: => T): Seq[(String, T)] =
    Seq("driver" -> body, "loop" -> withBudget("-1")(body))

  /** Jobs `body` launches. */
  def jobsOf(body: => Unit): Int = launchedBy(body).jobs.size

  /** What `body` launches ([[SparkSpec.launchedBy]]). */
  def launchedBy(body: => Unit): SparkSpec.Launched =
    SparkSpec.launchedBy(spark.sparkContext)(body)
}

object SparkSpec {
  final case class Launched(jobs: Seq[SparkListenerJobStart], stagesRun: Seq[StageInfo])

  /** What `body` launches on `sc`: the start events of its jobs, in
    * order (each lists its stages, skipped ones included, and the RDDs
    * they read), and the stages it actually ran. Its jobs carry their
    * own job group; a marker job in a second group follows, and since
    * the listener bus delivers in order, the marker's start means every
    * earlier event was seen. */
  def launchedBy(sc: SparkContext)(body: => Unit): Launched = {
    val group = s"jobs-of-${System.nanoTime}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, StageInfo)]()
    def groupOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties).foreach(g => jobs.add(g -> e))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        groupOf(e.properties).foreach(g => ran.add(g -> e.stageInfo))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      def markerSeen = jobs.asScala.exists(_._1 == marker)
      val deadline = System.nanoTime + 60L * 1000000000L
      while (!markerSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      Launched(jobs.asScala.collect { case (`group`, e) => e }.toSeq,
        ran.asScala.collect { case (`group`, s) => s }.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // local[8], not the entry points' core count: the plan shapes
  // PlanSpec pins depend on eight shuffle partitions
  lazy val session: SparkSession = Sessions.local(8)
}
