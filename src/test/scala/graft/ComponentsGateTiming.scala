package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Times the two finishes of [[Dedup.components]] on synthetic pair
  * graphs, the measurement behind [[Dedup.maxDriverPairs]]. Each size
  * runs two shapes: `blocks` (every pair inside a random block of 16
  * ids, the small components a dedup pass emits) and `random` (pairs
  * drawn uniformly from 2 × pairs ids, components of every size). Per
  * shape, size and finish it prints the median of `reps` timed calls,
  * each forced to completion by a keep-first loser count, the loser
  * count of each finish (the loop runs at the default `maxRounds`, so
  * a graph it does not converge on within 50 rounds shows as a
  * different count), and the heap a driver finish leaves in use.
  *
  * {{{
  * sbt "Test/runMain graft.ComponentsGateTiming 50000 300000 650000"
  * }}}
  * (`SPARK_GRAFT_CPUS` sets the local core count, default 4.) */
object ComponentsGateTiming {
  private val reps = 3

  private def graph(spark: org.apache.spark.sql.SparkSession, shape: String, n: Long): DataFrame = {
    val ids = spark.range(n)
    val g = shape match {
      case "blocks" => ids.select(col("id").as("a"),
        (floor(col("id") / 16) * 16 + floor(rand(7) * 16)).cast("long").as("b"))
      case _ => ids.select(floor(rand(7) * (2 * n)).cast("long").as("a"),
        floor(rand(11) * (2 * n)).cast("long").as("b"))
    }
    g.localCheckpoint(true)
  }

  private def time(body: => Long): (Double, Long) = {
    val t0 = System.nanoTime
    val out = body
    ((System.nanoTime - t0) / 1e9, out)
  }

  private def usedMb(): Long = {
    val rt = Runtime.getRuntime
    System.gc()
    (rt.totalMemory - rt.freeMemory) >> 20
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(50000L, 300000L, 650000L)
    def finish(pairs: DataFrame, onDriver: Boolean): DataFrame = {
      val e = pairs.select(col("a").as("src"), col("b").as("dst")).persist()
      e.rdd.count()
      val out = if (onDriver) Dedup.componentsOnDriver(e) else Dedup.componentsByRounds(e, 50)
      e.unpersist()
      out
    }
    for (n <- sizes; shape <- Seq("blocks", "random")) {
      val pairs = graph(spark, shape, n)
      pairs.count()
      val runs = for (onDriver <- Seq(true, false)) yield {
        val base = usedMb()
        val ts = Seq.fill(reps) {
          time(finish(pairs, onDriver).filter(col("id") =!= col("comp")).count())
        }
        val held = {
          val keep = finish(pairs, onDriver)
          val mb = usedMb() - base
          keep.count()
          mb
        }
        val losers = ts.map(_._2).distinct
        (onDriver, ts.map(_._1).sorted.apply(reps / 2), held, losers)
      }
      val Seq(d, l) = runs
      println(f"components-gate shape=$shape%-6s pairs=$n%8d driver_s=${d._2}%.2f " +
        f"loop_s=${l._2}%.2f driver_heap_mb=${d._3}%d losers=${d._4.mkString("/")} " +
        f"loop_losers=${l._4.mkString("/")}")
      graft.index.Residency.cool(pairs)
    }
    spark.stop()
  }
}
