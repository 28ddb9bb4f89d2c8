package graft.index

import org.apache.spark.sql.SparkSession

/** When a small input finishes on the driver instead of running a
  * distributed loop: the one size rule shared by `Dedup.components`
  * (the pair graph), `VecFile.read` (the file) and `IVFFlat.build` (the
  * training rows). An input fits when its size in bytes is within both
  * Spark's broadcast budget (`spark.sql.autoBroadcastJoinThreshold`, the
  * size Spark itself is willing to hold whole on the driver and ship to
  * every task; `-1` turns broadcasting off and with it every driver
  * finish) and the caller's fixed cap, which bounds driver memory
  * whatever the budget is raised to. Each caller measures its own
  * bytes: 16 per pair, the file's length, or the plan's size estimate. */
object DriverGate {

  /** The session's broadcast budget in bytes; negative means none. */
  def budget(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Whether an input of `bytes` finishes on the driver under a budget
    * of `budget` bytes and a fixed cap of `cap` bytes. */
  def fits(bytes: Long, budget: Long, cap: Long): Boolean =
    budget >= 0 && bytes >= 0 && bytes <= math.min(budget, cap)
}
