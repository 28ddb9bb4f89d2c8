package graft.tools

/** Dump `.explain("formatted")` for named bench lanes to files — the
  * optimization-round plan evidence (plans/rNN/<lane>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.ExplainLane <sfDir> <outDir> <suffix> <lane[,lane...]>
  */
object ExplainLane {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, laneCsv) = args.take(4)
    val lanes = laneCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (lane <- lanes) {
      val fn = graft.SparkEntry.queries.find(_._1 == lane)
        .getOrElse(sys.error(s"no lane $lane"))._2
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${lane}_$suffix.txt"), txt)
      spark.catalog.clearCache()
      println(s"wrote $outDir/${lane}_$suffix.txt")
    }
    spark.stop()
  }
}
