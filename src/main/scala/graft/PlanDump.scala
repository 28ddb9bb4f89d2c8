package graft

/** Committed plan evidence: dump the FORMATTED physical plan of the
  * headline lanes to PLANS.md with a note on what each plan must show
  * (the .explain discipline the brief asks for, made reviewable). The
  * load-bearing shapes are also gated in PlanSpec/BucketedSpec — this
  * artifact is the human-readable face of those gates.
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {

  private val Lanes: Seq[(String, String)] = Seq(
    "q1_agg" ->
      ("Scan-side column pruning (ReadSchema lists only the 4 used " +
        "columns) and a partial_ hash aggregate below the single " +
        "exchange: map-side combine, one shuffle of group rows."),
    "q3_join" ->
      ("The filtered dimension carries an explicit broadcast() hint " +
        "(it survives even with auto-broadcast disabled here) while " +
        "the fact-to-fact side shuffles; the segment filter is in " +
        "PushedFilters at the customer scan."),
    "bucket_join_colocated" ->
      ("Both scans report `Bucketed: true`; SortMergeJoin and the " +
        "same-key aggregate reuse the catalog bucket partitioning — no " +
        "exchange below the aggregate (the only Exchange is the final " +
        "presentation ORDER BY). The layout that deletes the per-query " +
        "double fact-table shuffle; gated in BucketedSpec."),
    "join_salted" ->
      ("The __salt column appears in the exchange hashpartitioning " +
        "keys — a hot key spreads over 8 reducers."),
    "knn_filtered" ->
      ("The label predicate sits in PushedFilters at the parquet scan " +
        "BELOW the kNN join — filter-then-search, not search-then-filter."),
    "dedup_minhash" ->
      ("Band-bucket equi-join (SortMergeJoin/ShuffledHashJoin on band " +
        "keys), no CartesianProduct/BroadcastNestedLoopJoin anywhere; " +
        "shuffles carry band keys and ids, never document text."),
    "ivf_search_fixed" ->
      ("Probe side broadcasts (query-batch-sized); per-query top-k is " +
        "a partial_topkaggexpr ObjectHashAggregate — the shuffle " +
        "payload is the O(k) heap buffer, never scored candidates."),
    "doc_sample_weighted" ->
      ("TakeOrderedAndProject caps the corpus scan at k+1 rows per " +
        "partition — priority sampling never globally sorts."),
    "window_topk" ->
      ("One partition-by-key exchange feeding the rank window; the " +
        "rk <= 3 filter runs inside the window stage."),
    "bm25_topk" ->
      ("Query terms (distinct, serving-sized) broadcast onto the " +
        "posting table — candidate volume is Σ df over query terms, " +
        "never |docs|×|queries|; the rank-10 cut is a PARTIAL " +
        "WindowGroupLimit below the qid exchange (map-side top-k); no " +
        "shuffle carries text."),
    "range_search" ->
      ("Queries broadcast with the radius predicate INSIDE the join " +
        "condition — one corpus scan, zero data shuffle (the only " +
        "exchange is the presentation sort)."),
    "dsir_weights" ->
      ("The corpus tokenizes once into a cached posting frame (the " +
        "raw model is a re-aggregation of it, not a second pass); the " +
        "m-row quantized log-ratio table broadcasts onto the postings; " +
        "per-doc weights partial-aggregate map-side."),
    "phrase_persist" ->
      ("Phrase serving from the persisted positional index: the " +
        "batch's distinct terms ride the positional scan as a pushed " +
        "In(term, [...]) filter (PushedFilters at the pos FileScan — " +
        "the Lucene term seek re-expressed as parquet page pruning on " +
        "the term-clustered save layout; 100M rows -> 1.8M surviving " +
        "at the 1M smoke); the query side broadcasts and the anchor " +
        "aggregation partial-aggregates below its exchange."),
    "maxsim_exact" ->
      ("Late-interaction MaxSim: the query token bag broadcasts " +
        "(BroadcastNestedLoopJoin — serving-sized by contract); the " +
        "per-pair max partial-aggregates map-side (partial_max) so no " +
        "exchange ever carries raw per-pair scores; the corpus token " +
        "frame is scanned once and never shuffles."),
    "maxsim_ivf" ->
      ("ANN-backed MaxSim stage 1: query tokens probe the token IVF " +
        "tier — the probe frame broadcasts (BroadcastHashJoin on " +
        "cluster), the per-(packed qid, qtok) top-m cut is the " +
        "partial-aggregating TopKAggExpr heap (objectHashAggregate " +
        "with partial topk) so only m-bounded rows cross its " +
        "exchange (stage 1 materializes at the candidate checkpoint; " +
        "its plan is spec-gated on searchMany directly); stage 2 " +
        "shows the pushed In/InSet candidate filter on doc_id at the " +
        "token scan, then the broadcast candidate×q-token probe and " +
        "the same map-side partial_max as maxsim_exact. No stage " +
        "scans corpus tokens more than once, no exchange is " +
        "corpus-sized, and on the doc-clustered saved layout the " +
        "stage-2 read is row-group-pruned to candidate docs."),
    "maxsim_pruned" ->
      ("PLAID candidate pruning between the ANN stage 1 and the exact " +
        "rescore: two serving-sized aggregations over the stage-1 hit " +
        "frame (partial_max then the Σ-max partial_sum of the " +
        "recovered dots) and one per-query rank window pick the " +
        "top-cap docs — no pruning stage touches corpus tokens, and " +
        "stage 2's broadcast probe is cap-bounded instead of " +
        "shortlist-sized."),
    "maxsim_pq" ->
      ("Residual-PQ MaxSim: stage 1 is the IVFPQ probed-cell ADC scan " +
        "— the cluster-pruned m-byte code scan joins the broadcast " +
        "(qid, residual-shifted qvec, cluster) probe frame, the fused " +
        "pqadcexpr codegen kernel scores codes in-register inside " +
        "whole-stage codegen, and the partial TopKAggExpr cut moves " +
        "only m-bounded rows (PlanSpec-gated); it materializes at " +
        "the candidate checkpoint, so the dumped plan is stage 2 — " +
        "identical to maxsim_ivf's: pushed In/InSet candidate filter " +
        "on doc_id at the token scan, broadcast candidate×q-token " +
        "probe, map-side partial_max. Float token vectors appear " +
        "ONLY in stage 2; stage 1 reads m-byte codes (4 B/token at " +
        "the lane's m=4)."),
    "hybrid_trio" ->
      ("Triple-hybrid fusion: three candidate lists (BM25 postings " +
        "top-10, IVF probed top-10, MaxSim top-10 — each " +
        "candidate-list-sized, rank windows already cut) chained " +
        "through two full-outer joins on (qid, id) in rrfFuseAll; " +
        "the fusion plan carries only (qid, id, rank) triples — no " +
        "corpus column, no corpus-sized exchange anywhere above the " +
        "three rankers."))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Sessions.local(8)
    // tiny-SF planner would broadcast every dimension; disable so the
    // scale-relevant join shapes (bucket reuse, salted SMJ) are shown
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline lanes\n\n"
    sb ++= s"Generated by `runMain graft.PlanDump` at `$sfDir` (plan\n"
    sb ++= "SHAPE is scale-free: the same operators appear at any SF —\n"
    sb ++= "only row counts and AQE's runtime join choices differ).\n"
    sb ++= "Load-bearing shapes are test-gated in PlanSpec/BucketedSpec;\n"
    sb ++= "this file is the reviewable face of those gates.\n"
    Lanes.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      sb ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim
      sb ++= "\n```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $outFile")
    spark.stop()
  }
}
