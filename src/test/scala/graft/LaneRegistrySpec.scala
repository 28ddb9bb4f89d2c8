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
}
