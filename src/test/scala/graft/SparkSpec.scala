package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Jobs `body` launches. Its jobs carry their own job group; a marker
    * job in a second group follows, and since the listener bus delivers
    * in order, the marker's start means every earlier start was seen. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 60L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job never reached the listener")
      seen.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  // local[8], not the entry points' core count: the plan shapes
  // PlanSpec pins depend on eight shuffle partitions
  lazy val session: SparkSession = Sessions.local(8)
}
