package graft

import org.apache.spark.sql.SparkSession

/** The engine's session contract, in one place: every entry point
  * (Verify, Bench, PlanDump, the lane tools) and the test suites build
  * their local session here. */
object Sessions {

  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UI off, UTC,
    * log level WARN. The entry points take `SPARK_GRAFT_CPUS` cores,
    * default 4. */
  def local(cpus: Int = envCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // TopKAggExpr buffers are O(k) primitives: keep millions of
      // per-task top-k groups hash-aggregated, never sort-fallback
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      // the events table carries TIMESTAMP(NANOS) parquet, which Spark 4
      // otherwise refuses to read; ns-long + integer math is also the
      // oracle-portable representation (see streaming.Streaming)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
