package graft

/** The lane registry's shape: every oracle lane is a bench lane, the
  * only lanes without an oracle are the three trained/approximate ANN
  * lanes, and every build-vs-search phase twin names a lane and runs. */
class LaneRegistrySpec extends SparkSpec {

  test("lane registry: oracle lanes, rows-only lanes and phase twins line up") {
    val lanes = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert(oracle.subsetOf(lanes), s"oracle without a lane: ${oracle -- lanes}")
    assert(lanes -- oracle == Set("hnsw_knn", "lsh_knn", "ivf_kmeans"))

    val twins = SparkEntry.benchPhases
    assert(twins.keySet.subsetOf(lanes), s"twin without a lane: ${twins.keySet -- lanes}")
    for ((name, twin) <- twins) {
      val (build, search) = twin(spark, sf0001)
      spark.catalog.clearCache()
      for ((phase, sec) <- Seq("build" -> build, "search" -> search))
        assert(!sec.isNaN && !sec.isInfinite && sec >= 0.0, s"$name $phase = $sec")
    }
  }

  test("tbl cache: a stopped session's entry is released") {
    // stopping a session stops the JVM's one SparkContext, so the stop
    // runs in a child JVM instead of the suites' shared session
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String])
    val opens = in.indices.flatMap { i =>
      if (in(i) == "--add-opens") Seq(in(i), in(i + 1))
      else if (in(i).startsWith("--add-opens=")) Seq(in(i))
      else Nil
    }
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g",
      "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.TblCacheStopCheck", sf0001)
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0 && out.toString.contains("cached=true stopped-cached=false"),
      s"exit $code:\n$out")
  }
}

/** Child-JVM half of the tbl-cache release test: read one table, stop
  * the session, report whether the entry was there before and after. */
object TblCacheStopCheck {
  def main(args: Array[String]): Unit = {
    val s = Sessions.local(1)
    SparkEntry.tbl(s, args(0), "embeddings")
    val before = SparkEntry.tblCached(s)
    s.stop()
    println(s"cached=$before stopped-cached=${SparkEntry.tblCached(s)}")
  }
}
