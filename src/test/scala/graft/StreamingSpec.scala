package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.index.IVFFlat
import graft.streaming.Streaming
import graft.streaming.Streaming.SessionEvent

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // normalized to the epoch-ns-long ts contract, whichever parquet
  // timestamp physical type the driver generated this round
  private lazy val events = SparkEntry.normalizeEventTs(
    spark.read.parquet(s"$sf0001/events.parquet")).cache()

  test("windowCounts over a stream equals the batch transformation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Streaming.windowCounts(streamDf, watermark = Some("10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    // events.ts reads as ns-long (nanosAsLong); stream side takes real
    // timestamps → convert via µs truncation, as SparkEntry does
    val rows = events
      .select($"event_id", timestamp_micros(expr("ts div 1000")).as("ts"),
        $"event_type", $"value")
      .as[(Long, java.sql.Timestamp, String, Double)].collect()
    mem.addData(rows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("win_out")
      .orderBy("w_start", "event_type").collect().toSeq
    val want = Streaming.windowCounts(
        events.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
      .orderBy("w_start", "event_type").collect().toSeq
    assert(got == want)
  }

  test("sessionizeStream equals batch sessionize on the events table") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = Streaming.sessionizeStream(mem.toDS(), gapSec = 1800L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    val evs = events.select($"user_id", $"ts", $"event_id")
      .as[(Long, Long, Long)].collect()
      .map { case (u, t, e) => SessionEvent(u, t, e) }
    mem.addData(evs.toSeq)
    q.processAllAvailable()
    q.stop()
    // stream emits only CLOSED sessions; the batch result additionally
    // holds each user's final (still-open) session
    val streamed = spark.table("sess_out")
      .select($"userId", $"sessionId", $"nEvents", $"startS", $"endS")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val batch = Streaming.sessionize(events, 1800L)
      .select($"user_id", $"session_id", $"n_events", $"start_s", $"end_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed.subsetOf(batch), "streamed closed sessions must appear in batch result")
    // every batch session that is not a user's last session must be streamed
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val closedBatch = batch.filter { case (u, sid, _, _, _) => sid != lastPerUser(u) }
    assert(closedBatch.subsetOf(streamed))
  }

  test("sessionizeStream: late events fold exactly or drop, never corrupt") {
    implicit val sqlCtx = spark.sqlContext
    def ns(s: Long) = s * 1000000000L
    val mem = MemoryStream[SessionEvent]
    val q = Streaming.sessionizeStream(mem.toDS(), gapSec = 1800L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_late").start()
    // batch 1: user 1 opens a session [0s, 1000s]; user 2 opens at 10000s
    mem.addData(SessionEvent(1L, ns(0), 1L), SessionEvent(1L, ns(1000), 2L),
      SessionEvent(2L, ns(10000), 3L))
    q.processAllAvailable()
    // batch 2: a late event INSIDE user 1's open span (500s) must fold in;
    // a late event BEFORE user 2's session start (100s) must be dropped;
    // then far-future events close both sessions
    mem.addData(SessionEvent(1L, ns(500), 4L), SessionEvent(2L, ns(100), 5L),
      SessionEvent(1L, ns(5000), 6L), SessionEvent(2L, ns(15000), 7L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_late")
      .select($"userId", $"sessionId", $"nEvents", $"startS", $"endS")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // user 1 equals the batch result on the same four events (500s folds
    // mid-session, exactly as sorted batch order places it)
    val batch1 = Streaming.sessionize(
        Seq((1L, ns(0), 1L), (1L, ns(1000), 2L), (1L, ns(500), 4L), (1L, ns(5000), 6L))
          .toDF("user_id", "ts", "event_id"), 1800L)
      .filter($"session_id" === 1)
      .select($"user_id", $"session_id", $"n_events", $"start_s", $"end_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(batch1 == Set((1L, 1L, 3L, 0L, 1000L)))
    assert(got.filter(_._1 == 1L) == batch1)
    // user 2's dropped straggler leaves the open session untouched
    assert(got.filter(_._1 == 2L) == Set((2L, 1L, 1L, 10000L, 10000L)))
  }

  test("foldBatches: one step per non-empty batch; a failing step leaves the state as it was") {
    implicit val sqlCtx = spark.sqlContext
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val state = new java.util.concurrent.atomic.AtomicReference(0L)
    val mem = MemoryStream[Long]
    val q = Streaming.foldBatches(mem.toDF(), state) { (acc, batch) =>
      calls.incrementAndGet()
      acc + batch.count()
    }
    // three non-empty batches with an empty trigger between them
    Seq(Seq(1L, 2L), Seq.empty[Long], Seq(3L), Seq.empty[Long], Seq(4L, 5L))
      .foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // five triggers ran (batch ids 0..4), the step saw only the three
    // non-empty ones
    assert(q.lastProgress.batchId == 4L)
    assert(calls.get() == 3)
    assert(state.get() == 5L)

    // a step that throws on the second batch fails the query and never
    // sets a partial state: the value after batch 1 stays
    val failCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val failState = new java.util.concurrent.atomic.AtomicReference(0L)
    val failMem = MemoryStream[Long]
    val failQ = Streaming.foldBatches(failMem.toDF(), failState) { (acc, batch) =>
      if (failCalls.incrementAndGet() == 2) throw new IllegalStateException("step failed")
      acc + batch.count()
    }
    failMem.addData(7L, 8L)
    failQ.processAllAvailable()
    assert(failState.get() == 2L)
    failMem.addData(9L)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      failQ.processAllAvailable()
    }
    failQ.stop()
    assert(failCalls.get() == 2)
    assert(failState.get() == 2L)
  }

  test("streaming ingest patches the HNSW index (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val without = emb.filter($"vec_id" =!= 42)
    val model = graft.index.HNSW.build(without, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 6, efConstruction = 100,
        efSearch = 64, m = 16), numShards = 4)
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 42)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    val hit = state.get().search(held._2, k = 1).head()
    assert(hit.getAs[Long]("id") == 42L)
    // cosine distance 1 - a·b of a float-normalized self-query is an
    // epsilon off zero (≈ -5.5e-8), never exactly 0.0 like the squared-L2
    // twins below
    assert(math.abs(hit.getAs[Double]("distance")) < 1e-6)
  }

  test("HNSW side-merge ingest: buffered batches land as merged shards") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val base = emb.filter($"vec_id" < 480)
    val p = SparkEntry.hnswExactParams // exhaustive per shard ⇒ comparable
    val model = graft.index.HNSW.build(base, "vec_id", "embedding", p,
      numShards = 1)
    val state = new java.util.concurrent.atomic.AtomicReference(
      Streaming.HnswSideMergeState(model, None, 0))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.ingestIntoHNSWSideMerge(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", state,
      mergeEvery = 2, shardRows = 8)
    val held = emb.filter($"vec_id" >= 480)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1) // 20 rows
    // batch 1 buffers (invisible), batch 2 triggers the side build+merge
    mem.addData(held.take(10).toSeq)
    q.processAllAvailable()
    assert(state.get().batches == 1 && state.get().pending.isDefined)
    mem.addData(held.drop(10).toSeq)
    q.processAllAvailable()
    q.stop()
    val s = state.get()
    assert(s.batches == 0 && s.pending.isEmpty)
    // 20 rows / shardRows=8 → 3 side shards joined the model untouched
    assert(s.main.numShards == 1 + 3)
    // every ingested row is searchable; exhaustive config ⇒ the merged
    // search equals the single-build search over the full corpus
    val hit = s.main.search(held.head._2, k = 1).head()
    assert(hit.getAs[Long]("id") == held.head._1 &&
      math.abs(hit.getAs[Double]("distance")) < 1e-6)
    val whole = graft.index.HNSW.build(emb, "vec_id", "embedding", p,
      numShards = 1)
    def res(m: graft.index.HNSW.Model) =
      m.searchMany(emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e12))).toSet
    assert(res(s.main) == res(whole))
  }

  test("streaming ingest patches the LSH forest (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val without = emb.filter($"vec_id" =!= 55)
    val model = graft.index.LSHForest.build(without, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 4, maxNodeSize = 64))
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 55)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    val hit = state.get().search(held._2, k = 1).head()
    assert(hit.getAs[Long]("id") == 55L)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("streaming ingest patches the IVFFlat index (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val without = emb.filter($"vec_id" =!= 77)
    val model = IVFFlat.build(without, "vec_id", "embedding",
      IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 5))
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 77)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    val hit = state.get().search(held._2, k = 1).head()
    assert(hit.getAs[Long]("id") == 77L)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("100-microbatch IVF ingest keeps plan depth bounded (lineage compaction)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val model = IVFFlat.build(emb.filter($"vec_id" < 400), "vec_id", "embedding",
      IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 5))
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    assert(held.length == 100)
    // one row per microbatch: 100 trigger cycles — the long-lived-stream
    // shape that used to stack 100 union nodes on the plan forever
    held.foreach { row =>
      mem.addData(row)
      q.processAllAvailable()
    }
    q.stop()
    val m = state.get()
    assert(m.addsSinceCompact == 100 % graft.index.Lineage.CompactEvery)
    val nodes = m.indexed.queryExecution.logical.collect { case n => n }.size
    // without compaction this is >800 (one union + assign subtree per
    // batch); with it the plan holds the checkpointed leaf + at most
    // CompactEvery post-compaction adds
    assert(nodes < 200, s"plan lineage grew unbounded: $nodes logical nodes")
    assert(m.indexed.count() == 500)
    val probe = held(57)
    val hit = m.search(probe._2, k = 1).head()
    assert(hit.getAs[Long]("id") == probe._1)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("repeated Model.add compacts lineage on PQ, IVFPQ, HNSW, LSH") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
    def nodesOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    val held = emb.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    def batches: Iterator[org.apache.spark.sql.DataFrame] =
      held.iterator.map(r => Seq(r).toDF("vec_id", "embedding"))
    val base = emb.filter($"vec_id" < 400)

    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val pqP = graft.index.PQ.Params(m = 4, k = 16)
    var pq = graft.index.PQ.withCodebooks(base, "vec_id", "embedding", cbs, pqP)
    batches.foreach(b => pq = pq.add(b, "vec_id", "embedding"))
    assert(nodesOf(pq.codes) < 300, s"PQ: ${nodesOf(pq.codes)}")
    // end state is still byte-identical to a from-scratch encode
    val fullPq = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding", cbs, pqP)
    def codeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codeMap(pq.codes) == codeMap(fullPq.codes))

    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    var ipq = graft.index.IVFPQ.build(base, "vec_id", "embedding",
      cents, sizes, cbs, pqP)
    batches.foreach(b => ipq = ipq.add(b, "vec_id", "embedding"))
    assert(nodesOf(ipq.codes) < 300, s"IVFPQ: ${nodesOf(ipq.codes)}")
    assert(ipq.codes.count() == 500)

    var hnsw = graft.index.HNSW.build(base, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 6, efConstruction = 100,
        efSearch = 64, m = 16), numShards = 4)
    batches.foreach(b => hnsw = hnsw.add(b, "vec_id", "embedding"))
    assert(nodesOf(hnsw.shards.toDF()) < 300, s"HNSW: ${nodesOf(hnsw.shards.toDF())}")
    val hit = hnsw.search(held(31)._2, k = 1).head()
    assert(hit.getAs[Long]("id") == held(31)._1)

    // the degenerate exact config never triggers the leaf-overflow
    // rebuild, so the counter is its ONLY lineage bound; 40 adds
    // crosses one compaction boundary
    var lsh = graft.index.LSHForest.build(base, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 1, maxNodeSize = Int.MaxValue))
    held.take(40).foreach(r =>
      lsh = lsh.add(Seq(r).toDF("vec_id", "embedding"), "vec_id", "embedding"))
    assert(nodesOf(lsh.indexed) < 150, s"LSH: ${nodesOf(lsh.indexed)}")
    assert(lsh.indexed.count() == 440)
  }

  test("watermarked exact dedup: one survivor per key in-window, state evicts past the delay") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.dedupExactStream(
        mem.toDF().toDF("ts", "content"), Seq("content"), "ts", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_exact_out").start()
    // batch 1: duplicate key inside the window → one row out
    mem.addData((ts(0), "A"), (ts(5), "A"))
    q.processAllAvailable()
    // batch 2: advances the watermark to 60 − 10 = 50 min, far past A's
    // event time → A's state is evicted
    mem.addData((ts(60), "B"))
    q.processAllAvailable()
    // batch 3: A recurs AFTER the delay — bounded state means it
    // re-emits (the documented trade vs forever-dedup)
    mem.addData((ts(65), "A"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_exact_out")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000L, r.getString(1)))
      .toSet
    // exactly one A from batch 1 (which of the two in-window duplicates
    // survives is not part of the contract), then B, then the post-
    // eviction A recurrence
    assert(got.size == 3, got.toString)
    assert(got.count(e => e._2 == "A" && e._1 <= 5L) == 1, got.toString)
    assert(got.contains((60L, "B")) && got.contains((65L, "A")), got.toString)
  }

  test("streaming source-cap admission equals the batch prefix rule") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TermStats
    import graft.streaming.Streaming.SourceCapState
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"source").cache()
    val emptyAdmitted = docs.filter(lit(false))
    val emptyCounts = Seq.empty[(String, Long)].toDF("src", "n")
    val state = new java.util.concurrent.atomic.AtomicReference(
      SourceCapState(emptyAdmitted, emptyCounts))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ingestSourceCap(
      mem.toDF().toDF("doc_id", "source"), "doc_id", "source", cap = 7, state)
    // id-ordered arrival over 4 microbatches (the prefix rule's
    // ordering assumption), batch boundaries NOT aligned to sources
    val rows = docs.orderBy($"doc_id").as[(Long, String)].collect()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().admitted
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val batch = TermStats.prefixSourceCap(docs, "doc_id", "source", cap = 7)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // the tally state agrees with the admitted frame
    val counts = state.get().counts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ <= 7))
    assert(counts.values.sum == streamed.size.toLong)
  }

  test("streaming curation chain equals the batch gates->dedup->cap twin") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, TermStats, TextOps}
    import graft.streaming.Streaming.CurateIngestState
    // corpus with planted exact dups (same normalized text, higher id)
    // so the dedup stage has real work across batch boundaries
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"source", $"text").orderBy($"doc_id").limit(80).cache()
    val offset = base.agg(max($"doc_id")).head().getLong(0) + 1
    val all = base.unionByName(
        base.limit(20).withColumn("doc_id", $"doc_id" + offset))
      .cache()
    val emptyDocs = all.filter(lit(false))
    val state = new java.util.concurrent.atomic.AtomicReference(
      CurateIngestState(emptyDocs,
        emptyDocs.select(md5($"text").as("norm_h")),
        Seq.empty[(String, Long)].toDF("src", "n")))
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.Streaming.ingestCurate(
      mem.toDF().toDF("doc_id", "source", "text"),
      "doc_id", "source", "text", cap = 5, state)
    val rows = all.orderBy($"doc_id").as[(Long, String, String)].collect()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().admitted
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // the batch twin, same stage order
    val gated = all
      .filter(TextOps.langId($"text") =!= "und" &&
        TextOps.qualityScore($"text") >= lit(0.5))
    val deduped = Dedup.exactKeepFirst(
      gated.withColumn("norm_h", md5(TextOps.normalizeText($"text"))),
      "doc_id", Seq("norm_h"))
    val batch = TermStats.prefixSourceCap(deduped, "doc_id", "source", cap = 5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // every planted dup (id >= offset) was rejected by the digest stage
    assert(streamed.forall(_ < offset))
    // tally state consistent with the admitted frame
    val counts = state.get().counts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ <= 5))
    assert(counts.values.sum == streamed.size.toLong)
  }

  test("streaming minhash dedup equals the batch prefix-keep-first rule") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.Streaming.DedupIngestState
    // corpus with planted exact near-dups: a copy shares every band
    // bucket with its source, so the higher-id copy must be dropped
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").orderBy($"doc_id").limit(50).cache()
    val offset = base.agg(max($"doc_id")).head().getLong(0) + 1
    val all = base.unionByName(
        base.withColumn("doc_id", $"doc_id" + offset))
      .cache()
    val emptyDocs = all.filter(lit(false))
    val state = new java.util.concurrent.atomic.AtomicReference(
      DedupIngestState(emptyDocs,
        Dedup.minhashBands(emptyDocs, "doc_id", "text")))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ingestDedupMinhash(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", state)
    // id-ordered arrival across 4 microbatches — the ordering the
    // prefix rule's batch face assumes
    val rows = all.orderBy($"doc_id").as[(Long, String)].collect()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().admitted
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val batch = Dedup.prefixKeepFirst(all, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // every planted copy of a signature-bearing (≥3-token) doc must be
    // dropped — it shares all 6 band buckets with its lower-id source
    val sigIds = Dedup.minhashBands(base, "doc_id", "text")
      .select($"id").distinct().collect().map(_.getLong(0)).toSet
    assert(sigIds.nonEmpty)
    assert(sigIds.forall(id => !streamed.contains(id + offset)))
  }

  test("streaming semantic dedup equals the batch prefix rule") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.Streaming.SemdedupIngestState
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = emb.filter($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding".cast("array<float>")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val base = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      .orderBy($"vec_id").limit(60).cache()
    val offset = base.agg(max($"vec_id")).head().getLong(0) + 1
    // planted exact copies of the first 10 rows, ids after every base id
    val all = base.unionByName(
        base.filter($"vec_id" < 10)
          .withColumn("vec_id", $"vec_id" + offset))
      .cache()
    val empty = all.filter(lit(false))
    val state = new java.util.concurrent.atomic.AtomicReference(
      SemdedupIngestState(empty,
        IVFFlat.assign(empty, "vec_id", "embedding", cents)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.ingestSemdedup(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, maxCosDist = 1e-5, state)
    // id-ordered arrival across 4 microbatches
    val rows = all.orderBy($"vec_id").as[(Long, Array[Float])].collect()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().admitted
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val batch = Dedup.semanticPrefixKeepFirst(all, "vec_id", "embedding",
        cents, maxCosDist = 1e-5)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // every planted copy dropped, every base row admitted
    assert((0L until 10L).forall(i => !streamed.contains(i + offset)))
    assert(base.count() == streamed.size)
  }

  test("80-microbatch dedup ingest keeps state plan depth bounded") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.Streaming.DedupIngestState
    // 80 single-doc microbatches cross two compaction boundaries; docs
    // are all-distinct so every one is admitted
    val rows = (0 until 80).map(i =>
      (i.toLong, (0 until 10).map(t => s"u${i}t$t").mkString(" ")))
    val emptyDocs = rows.take(0).toDF("doc_id", "text")
    val state = new java.util.concurrent.atomic.AtomicReference(
      DedupIngestState(emptyDocs,
        Dedup.minhashBands(emptyDocs, "doc_id", "text")))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ingestDedupMinhash(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", state)
    rows.foreach { r =>
      mem.addData(r)
      q.processAllAvailable()
    }
    q.stop()
    val st = state.get()
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case n => n }.size
    // without the Lineage cadence both frames would hold 80 stacked
    // unions (plus a join subtree per batch on the bands side)
    assert(nodes(st.admitted) < 200, s"admitted lineage: ${nodes(st.admitted)}")
    assert(nodes(st.bands) < 200, s"bands lineage: ${nodes(st.bands)}")
    assert(st.addsSinceCompact == 80 % graft.index.Lineage.CompactEvery)
    assert(st.admitted.count() == 80)
  }

  test("streaming ingest patches the PQ codes (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val params = graft.index.PQ.Params(m = 4, k = 16)
    val model = graft.index.PQ.withCodebooks(
      emb.filter($"vec_id" =!= 42), "vec_id", "embedding", cbs, params)
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 42)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    // the ingested code must be byte-identical to a from-scratch encode
    val fullCode = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding",
        cbs, params).codes.filter($"id" === 42)
      .head().getAs[Array[Byte]]("code").toSeq
    val got = state.get().codes.filter($"id" === 42).collect()
    assert(got.length == 1 && got(0).getAs[Array[Byte]]("code").toSeq == fullCode)
  }

  test("streaming ingest patches the IVFPQ codes (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val params = graft.index.PQ.Params(m = 4, k = 16)
    val model = graft.index.IVFPQ.build(
      emb.filter($"vec_id" =!= 42), "vec_id", "embedding", cents, sizes, cbs, params)
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 42)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    // cluster routing and code bytes both match a from-scratch build
    val full = graft.index.IVFPQ.build(emb, "vec_id", "embedding",
        cents, sizes, cbs, params).codes.filter($"id" === 42).head()
    val got = state.get().codes.filter($"id" === 42).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Int]("cluster") == full.getAs[Int]("cluster"))
    assert(got(0).getAs[Array[Byte]]("code").toSeq ==
      full.getAs[Array[Byte]]("code").toSeq)
  }

  test("streaming ingest patches the SQ8 codes (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    val ivf = graft.index.IVFFlat.Model(
      graft.index.IVFFlat.Params(cents.length), cents, sizes,
      graft.index.IVFFlat.assign(
        emb.filter($"vec_id" =!= 42), "vec_id", "embedding", cents))
    val state = new java.util.concurrent.atomic.AtomicReference(
      graft.index.SQ8.compress(ivf))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 42)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    // routing and packed bytes both match a from-scratch compress
    val full = graft.index.SQ8.compress(graft.index.IVFFlat.Model(
        graft.index.IVFFlat.Params(cents.length), cents, sizes,
        graft.index.IVFFlat.assign(emb, "vec_id", "embedding", cents)))
      .codes.filter($"id" === 42).head()
    val got = state.get().codes.filter($"id" === 42).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Int]("cluster") == full.getAs[Int]("cluster"))
    assert(got(0).getAs[Double]("lo") == full.getAs[Double]("lo"))
    assert(got(0).getAs[Array[Byte]]("codes").toSeq ==
      full.getAs[Array[Byte]]("codes").toSeq)
  }

  test("streaming sketches merge to exactly the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val batches = Seq(
      (0 until 400).map(i => s"a$i"),
      (200 until 700).map(i => s"a$i"), // overlap exercises the merges
      (0 until 50).map(i => s"b$i"))
    val all = batches.flatten.toDF("v")
    val empty = all.limit(0)

    // HLL: register max-merge
    val hllState = new java.util.concurrent.atomic.AtomicReference(
      Sketches.hllRegisters(empty, "v", p = 8))
    val memH = MemoryStream[String]
    val qh = Streaming.ingestHll(memH.toDF().toDF("v"), "v", 8, hllState)
    batches.foreach { b => memH.addData(b: _*); qh.processAllAvailable() }
    qh.stop()
    val hllGot = hllState.get().orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val hllWant = Sketches.hllRegisters(all, "v", p = 8)
      .orderBy("bucket").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(hllGot.toSeq == hllWant.toSeq)

    // Bloom: word bit_or-merge
    val bloomState = new java.util.concurrent.atomic.AtomicReference(
      Sketches.bloomBuild(empty, "v", logm = 14, k = 3))
    val memB = MemoryStream[String]
    val qb = Streaming.ingestBloom(memB.toDF().toDF("v"), "v", 14, 3, bloomState)
    batches.foreach { b => memB.addData(b: _*); qb.processAllAvailable() }
    qb.stop()
    val bloomGot = bloomState.get().orderBy("word").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bloomWant = Sketches.bloomBuild(all, "v", logm = 14, k = 3)
      .orderBy("word").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bloomGot.toSeq == bloomWant.toSeq)

    // CMS: counter sum-merge
    val cmsState = new java.util.concurrent.atomic.AtomicReference(
      Sketches.cmsBuild(empty, "v", logw = 10, depth = 3))
    val memC = MemoryStream[String]
    val qc = Streaming.ingestCms(memC.toDF().toDF("v"), "v", 10, 3, cmsState)
    batches.foreach { b => memC.addData(b: _*); qc.processAllAvailable() }
    qc.stop()
    val cmsGot = cmsState.get().orderBy("row", "col").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val cmsWant = Sketches.cmsBuild(all, "v", logw = 10, depth = 3)
      .orderBy("row", "col").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(cmsGot.toSeq == cmsWant.toSeq)

    // KMV: bottom-R monoid merge (duplicate hashes collapse)
    val kmvState = new java.util.concurrent.atomic.AtomicReference(
      Sketches.kmvSketch(empty, "v", r = 64))
    val memK = MemoryStream[String]
    val qk = Streaming.ingestKmv(memK.toDF().toDF("v"), "v", 64, kmvState)
    batches.foreach { b => memK.addData(b: _*); qk.processAllAvailable() }
    qk.stop()
    val kmvGot = kmvState.get().orderBy("h").collect().map(_.getLong(0))
    val kmvWant = Sketches.kmvSketch(all, "v", r = 64)
      .orderBy("h").collect().map(_.getLong(0))
    assert(kmvGot.toSeq == kmvWant.toSeq)
  }

  test("streaming ingest patches the BQ sign codes (Index::add analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    val ivf = graft.index.IVFFlat.Model(
      graft.index.IVFFlat.Params(cents.length), cents, sizes,
      graft.index.IVFFlat.assign(
        emb.filter($"vec_id" =!= 42), "vec_id", "embedding", cents))
    val state = new java.util.concurrent.atomic.AtomicReference(
      graft.index.BQ.compress(ivf))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.foldBatches(
      mem.toDF().toDF("vec_id", "embedding"), state)(_.add(_, "vec_id", "embedding"))
    val held = emb.filter($"vec_id" === 42)
      .select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Array[Float])].head()
    mem.addData(held)
    q.processAllAvailable()
    q.stop()
    // routing and packed sign bits both match a from-scratch compress
    val full = graft.index.BQ.compress(graft.index.IVFFlat.Model(
        graft.index.IVFFlat.Params(cents.length), cents, sizes,
        graft.index.IVFFlat.assign(emb, "vec_id", "embedding", cents)))
      .codes.filter($"id" === 42).head()
    val got = state.get().codes.filter($"id" === 42).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Int]("cluster") == full.getAs[Int]("cluster"))
    assert(got(0).getAs[Array[Byte]]("codes").toSeq ==
      full.getAs[Array[Byte]]("codes").toSeq)
  }

  test("scrubStream redacts in-flight exactly like the batch redact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pii
    val rows = Seq(
      (1L, "mail a@b.co and 10.1.2.3 please"),
      (2L, "clean text with no pii at all"),
      (3L, "ssn 123-45-6789 phone 415-555-0123"))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.scrubStream(mem.toDF().toDF("doc_id", "text"), "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("scrub_out").start()
    mem.addData(rows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scrub_out")
      .select($"doc_id", $"text", $"pii_hits").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val batch = rows.toDF("doc_id", "text")
      .select($"doc_id", Pii.redact($"text"), Pii.totalHits($"text")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(streamed == batch)
    assert(streamed(1L)._2 == 2L && streamed(2L)._2 == 0L && streamed(3L)._2 == 2L)
    assert(!streamed(3L)._1.exists(_.isDigit))
  }

  test("pretrainStream over a MemoryStream equals the independent batch operators") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Decontam, Pii, Splits, TextOps}
    val bench = Seq((900L, (1 to 60).map(i => s"tok$i").mkString(" ") + " the and of a"))
      .toDF("doc_id", "text")
    val grams = Decontam.benchGramSet(bench, "doc_id", "text", n = 3)
      .collect().map(_.getString(0))
    val mkDoc = (i: Int) => {
      val filler = (0 until 60).map(j => s"w${(i * 13 + j * 7) % 400}")
      (i.toLong, s"src${i % 3}", s"lang${i % 2}",
        (filler ++ Seq("the", "and", "of", "a")).mkString(" ") +
          (if (i % 10 == 0) " contact x@y.co now" else ""))
    }
    val rows = (0 until 80).map(mkDoc) :+
      // planted contaminated doc: verbatim benchmark copy
      (999L, "src0", "lang0", (1 to 60).map(i => s"tok$i").mkString(" ") + " the and of a")
    val rates = Map("lang0" -> 0.7, "lang1" -> 1.0)
    val mem = MemoryStream[(Long, String, String, String)]
    val q = graft.streaming.Streaming.pretrainStream(
        mem.toDF().toDF("doc_id", "source", "lang", "text"),
        "doc_id", "source", "lang", "text", grams, n = 3, threshold = 0.5, rates)
      .writeStream.outputMode("append")
      .format("memory").queryName("pretrain_out").start()
    rows.grouped(30).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("pretrain_out")
      .select($"doc_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the same pipeline from the INDEPENDENT batch operators
    val batchDf = rows.toDF("doc_id", "source", "lang", "text")
      .withColumn("text", Pii.redact($"text"))
      .withColumn("toks", TextOps.tokens($"text"))
      .filter(TextOps.gopherKeep($"toks"))
    val cleanIds = Decontam.overlapAgainstLiteral(
        batchDf.select($"doc_id", $"text"), "doc_id", "text", grams, 3)
      .filter($"overlap" < 0.5).select($"doc_id")
    val mixed = batchDf.join(cleanIds, Seq("doc_id"), "left_semi")
      .filter(Splits.hashFrac(concat($"doc_id".cast("string"), lit(":mix"))) <
        when($"lang" === "lang0", 0.7).otherwise(1.0))
    val batch = Splits.assignByGroup(mixed, "source")
      .select($"doc_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch)
    // the planted contaminated doc was dropped; the corpus wasn't
    assert(!streamed.contains(999L) && streamed.size > 30)
  }

  test("streaming decontamination admits exactly the batch-clean set") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Decontam
    import graft.streaming.Streaming.DecontamIngestState
    val bench = Seq((900L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contaminated
      (2L, "totally original material about distributed query engines"),
      (3L, "he quoted the quick brown fox and then moved on today"),
      (4L, "short one"))
    val grams = Decontam.benchGramSet(bench, "doc_id", "text", n = 3)
    val state = new java.util.concurrent.atomic.AtomicReference(
      DecontamIngestState(Seq.empty[(Long, String)].toDF("doc_id", "text")))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ingestDecontam(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", grams, n = 3, threshold = 0.5, state)
    rows.grouped(2).foreach { chunk =>
      mem.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().admitted
      .select($"doc_id").as[Long].collect().toSet
    val batchDropped = Decontam.contaminated(rows.toDF("doc_id", "text"),
        "doc_id", "text", bench, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == rows.map(_._1).toSet -- batchDropped)
    assert(batchDropped == Set(1L))
    assert(state.get().dropped == 1L)
  }

  test("tokenizeStream over a stream equals batch Unigram.encode") {
    implicit val sqlCtx = spark.sqlContext
    val pieces = SparkEntry.UnigramPinned
    val rows = Seq((1L, "the rain in spain"), (2L, "entangle the ending"),
      (3L, "zz qq"), (4L, ""))
    val mem = MemoryStream[(Long, String)]
    val out = Streaming.tokenizeStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", pieces)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("tok_out").start()
    rows.grouped(2).foreach { chunk =>
      mem.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("tok_out")
      .select($"id", $"subwords").as[(Long, Array[String])].collect()
      .map { case (id, s) => id -> s.toSeq }.toMap
    val batch = graft.operators.Unigram.encode(
        rows.toDF("doc_id", "text"), "doc_id", "text", pieces)
      .select($"id", $"subwords").as[(Long, Array[String])].collect()
      .map { case (id, s) => id -> s.toSeq }.toMap
    assert(streamed == batch)
    assert(batch(1L).take(1) == Seq("the"))
  }

  test("rangeJoinStream over a stream equals the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    def h(i: Int, salt: Int): Long = {
      var x = i.toLong * 2654435761L + salt.toLong * 40503L
      x ^= (x >>> 16); x *= 0x45d9f3b3335b369L; x ^= (x >>> 32)
      math.abs(x)
    }
    val pts = (0 until 300).map(i => (i.toLong, h(i, 1) % 5000))
    val ivs = (0 until 80).map { i =>
      val lo = h(i, 2) % 4500
      val span = if (i % 19 == 0) 3000L + h(i, 3) % 2000 else h(i, 3) % 150
      (i.toLong, lo, lo + span)
    }.toDF("iid", "lo", "hi")
    val mem = MemoryStream[(Long, Long)]
    val out = Streaming.rangeJoinStream(mem.toDF().toDF("pid", "p"), "p",
      ivs, "lo", "hi", width = 128L, longCap = 8)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("rj_out").start()
    pts.grouped(100).foreach { chunk =>
      mem.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("rj_out")
      .select($"pid", $"iid").as[(Long, Long)].collect()
    val batch = graft.operators.RangeJoin.pointInInterval(
        pts.toDF("pid", "p"), "p", ivs, "lo", "hi", width = 128L, longCap = 8)
      .select($"pid", $"iid").as[(Long, Long)].collect()
    assert(streamed.length == streamed.toSet.size, "duplicate emissions")
    assert(streamed.toSet == batch.toSet)
    assert(batch.nonEmpty)
  }

  test("streaming span scrub and pHash equal their batch operators") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Decontam, Multimodal}
    // span scrub: stream-static with the gram set as broadcast literal
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val cand = docs.filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", $"text").limit(120).cache()
    val bench = docs.filter($"doc_id" % 97 === 0)
    val grams = Decontam.benchGramSet(bench, "doc_id", "text", 3)
      .as[String].collect()
    val mem = MemoryStream[(Long, String)]
    val out = Streaming.scrubContamStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", grams, 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scrub_out").start()
    val rows = cand.as[(Long, String)].collect()
    rows.grouped(50).foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("scrub_out")
      .select($"doc_id", $"scrubbed", $"n_kept")
      .as[(Long, String, Long)].collect().toSet
    val batch = Decontam.scrubContaminatedSpans(cand, "doc_id", "text",
        bench, "doc_id", "text", n = 3)
      .select($"doc_id", $"scrubbed", $"n_kept")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
    // pHash: narrow fingerprint map at ingest
    val fixture = SparkEntry.imageFixtureRows()
    val memI = MemoryStream[(Long, Array[Byte])]
    val outI = Streaming.phashStream(
      memI.toDF().toDF("id", "content"))
    val qI = outI.writeStream.outputMode("append")
      .format("memory").queryName("phash_out").start()
    memI.addData(fixture)
    qI.processAllAvailable()
    qI.stop()
    val streamedH = spark.table("phash_out")
      .as[(Long, Long)].collect().toSet
    assert(streamedH == SparkEntry.ImagePhashPinned.toSet)
  }

  test("streaming fingerprint dedup admits exactly the batch prefix rule") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.Streaming.FingerprintIngestState
    val rows = SparkEntry.imageFixtureRows()
    val media = rows.toDF("id", "content")
    val emptyAdmitted = media.filter(lit(false))
    val emptyFps = Seq.empty[(Long, Long)].toDF("id", "sim")
    val state = new java.util.concurrent.atomic.AtomicReference(
      FingerprintIngestState(emptyAdmitted, emptyFps))
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.ingestDedupFingerprint(
      mem.toDF().toDF("id", "content"), "id",
      b => Multimodal.imagePhash(b, "id", "content")
        .withColumnRenamed("phash", "sim"),
      maxHamming = 6, state)
    // id-ordered arrival: bases, then dups, then stripes — the dup
    // batch must drop against STATE fingerprints, not its own batch
    rows.sortBy(_._1).grouped(8).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().admitted.select($"id")
      .as[Long].collect().toSet
    val batch = Dedup.prefixKeepFirstByPairs(media, "id",
        Dedup.imagePhashPairs(media, maxHamming = 6), "doc_a", "doc_b")
      .select($"id").as[Long].collect().toSet
    assert(streamed == batch)
    // the 8 planted dups (ids 100-107) all dropped; bases/stripes kept
    assert(batch == (0L until 8L).toSet ++ (200L until 208L).toSet)
    // state fingerprints cover EVERY row, dropped included
    assert(state.get().fps.count() == rows.length)
  }

  test("dedup state survives a save/load restart: no re-admitted duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    import graft.streaming.Streaming.{DedupStateIO, FingerprintIngestState}
    val rows = SparkEntry.imageFixtureRows().sortBy(_._1)
    val (bases, rest) = rows.partition(_._1 < 100)
    val media = (ids: Seq[(Long, Array[Byte])]) => ids.toDF("id", "content")
    val fp = (b: org.apache.spark.sql.DataFrame) =>
      Multimodal.imagePhash(b, "id", "content").withColumnRenamed("phash", "sim")
    // phase 1: ingest the bases, then persist the state
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      FingerprintIngestState(media(rows).filter(lit(false)),
        Seq.empty[(Long, Long)].toDF("id", "sim")))
    val mem1 = MemoryStream[(Long, Array[Byte])]
    val q1 = Streaming.ingestDedupFingerprint(
      mem1.toDF().toDF("id", "content"), "id", fp, maxHamming = 6, st1)
    mem1.addData(bases); q1.processAllAvailable(); q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("fpstate").toString
    DedupStateIO.save(st1.get(), dir)
    // phase 2: RESTART from the persisted state, ingest dups + stripes
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadFingerprint(spark, dir))
    val mem2 = MemoryStream[(Long, Array[Byte])]
    val q2 = Streaming.ingestDedupFingerprint(
      mem2.toDF().toDF("id", "content"), "id", fp, maxHamming = 6, st2)
    mem2.addData(rest); q2.processAllAvailable(); q2.stop()
    val admitted = st2.get().admitted.select($"id").as[Long].collect().toSet
    // pre-restart bases + post-restart stripes; every planted dup of a
    // PRE-RESTART base dropped — the memory the save/load preserves
    assert(admitted == (0L until 8L).toSet ++ (200L until 208L).toSet,
      admitted.toSeq.sorted.mkString(","))
    assert(st2.get().fps.count() == rows.length)
    // the minhash band state round-trips through the same IO
    import graft.streaming.Streaming.DedupIngestState
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").limit(40)
    val bands = graft.operators.Dedup.minhashBands(docs, "doc_id", "text",
      numHashes = 12, bandSize = 2)
    val mhDir = java.nio.file.Files.createTempDirectory("mhstate").toString
    DedupStateIO.save(DedupIngestState(docs, bands), mhDir)
    val back = DedupStateIO.load(spark, mhDir)
    assert(back.admitted.count() == docs.count())
    assert(back.bands.select($"band", $"key", $"id")
      .as[(Int, Long, Long)].collect().toSet ==
      bands.select($"band", $"key", $"id")
        .as[(Int, Long, Long)].collect().toSet)
  }

  test("semantic dedup state survives a save/load restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{DedupStateIO, SemdedupIngestState}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = emb.filter($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding".cast("array<float>")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val base = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      .orderBy($"vec_id").limit(40).cache()
    val offset = base.agg(max($"vec_id")).head().getLong(0) + 1
    val empty = base.filter(lit(false))
    // phase 1: ingest the bases, persist the state
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      SemdedupIngestState(empty,
        IVFFlat.assign(empty, "vec_id", "embedding", cents)))
    val mem1 = MemoryStream[(Long, Array[Float])]
    val q1 = Streaming.ingestSemdedup(
      mem1.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, maxCosDist = 1e-5, st1)
    mem1.addData(base.orderBy($"vec_id").as[(Long, Array[Float])].collect().toSeq)
    q1.processAllAvailable(); q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("semstate").toString
    DedupStateIO.save(st1.get(), dir)
    // phase 2: RESTART, ingest exact copies of PRE-restart rows + fresh rows
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadSemdedup(spark, dir))
    val fresh = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      .orderBy($"vec_id".desc).limit(5)
      .withColumn("vec_id", $"vec_id" + offset + 100)
    val dups = base.filter($"vec_id" < 10).withColumn("vec_id", $"vec_id" + offset)
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = Streaming.ingestSemdedup(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, maxCosDist = 1e-5, st2)
    mem2.addData(dups.unionByName(fresh).orderBy($"vec_id")
      .as[(Long, Array[Float])].collect().toSeq)
    q2.processAllAvailable(); q2.stop()
    val admitted2 = st2.get().admitted.select($"vec_id")
      .as[Long].collect().toSet
    // every planted dup of a PRE-restart row dropped; fresh rows admitted
    assert((0L until 10L).forall(i => !admitted2.contains(i + offset)),
      admitted2.toSeq.sorted.mkString(","))
    assert(fresh.select($"vec_id").as[Long].collect().forall(admitted2.contains))
    // seen-state covers every row ever ingested, dups included
    assert(st2.get().seen.count() >= base.count() + 10 + 5)
  }

  test("source-cap and curate states survive a save/load restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{CurateIngestState, DedupStateIO, SourceCapState}
    // --- source cap: tallies must carry across the restart ---
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"source").orderBy($"doc_id").limit(60).cache()
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      SourceCapState(docs.filter(lit(false)),
        Seq.empty[(String, Long)].toDF("src", "n")))
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Streaming.ingestSourceCap(
      mem1.toDF().toDF("doc_id", "source"), "doc_id", "source", cap = 2, st1)
    val rows = docs.as[(Long, String)].collect()
    val (pre, post0) = rows.splitAt(rows.length / 2)
    mem1.addData(pre.toSeq); q1.processAllAvailable(); q1.stop()
    val capDir = java.nio.file.Files.createTempDirectory("capstate").toString
    DedupStateIO.save(st1.get(), capDir)
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadSourceCap(spark, capDir))
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.ingestSourceCap(
      mem2.toDF().toDF("doc_id", "source"), "doc_id", "source", cap = 2, st2)
    mem2.addData(post0.toSeq); q2.processAllAvailable(); q2.stop()
    val streamed = st2.get().admitted.select($"doc_id").as[Long].collect().toSet
    // the state carries both the admitted history AND the tally, so
    // the restarted stream's full admitted set equals the batch prefix
    // rule over the whole corpus (a lost tally would re-admit cap
    // fresh docs per source after the restart)
    val batch = graft.operators.TermStats
      .prefixSourceCap(docs, "doc_id", "source", cap = 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == batch, streamed.toSeq.sorted.mkString(","))
    // the cap actually bound: some POST-restart doc was rejected
    // because of PRE-restart admissions
    assert(batch.size < rows.length)
    assert(post0.map(_._1).toSet.exists(id => !streamed.contains(id)))
    // --- curate: digest memory must survive (planted pre-restart dup) ---
    val cdocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"source", $"text").orderBy($"doc_id").limit(40).cache()
    val emptyDocs = cdocs.filter(lit(false))
    val cst1 = new java.util.concurrent.atomic.AtomicReference(
      CurateIngestState(emptyDocs,
        emptyDocs.select(md5($"text").as("norm_h")),
        Seq.empty[(String, Long)].toDF("src", "n")))
    val cmem1 = MemoryStream[(Long, String, String)]
    val cq1 = Streaming.ingestCurate(
      cmem1.toDF().toDF("doc_id", "source", "text"),
      "doc_id", "source", "text", cap = 50, cst1)
    cmem1.addData(cdocs.as[(Long, String, String)].collect().toSeq)
    cq1.processAllAvailable(); cq1.stop()
    val curDir = java.nio.file.Files.createTempDirectory("curstate").toString
    DedupStateIO.save(cst1.get(), curDir)
    val cst2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadCurate(spark, curDir))
    val cmem2 = MemoryStream[(Long, String, String)]
    val cq2 = Streaming.ingestCurate(
      cmem2.toDF().toDF("doc_id", "source", "text"),
      "doc_id", "source", "text", cap = 50, cst2)
    val cOffset = 100000L
    // exact copies of PRE-restart docs, new ids — must ALL be rejected
    cmem2.addData(cdocs.withColumn("doc_id", $"doc_id" + cOffset)
      .as[(Long, String, String)].collect().toSeq)
    cq2.processAllAvailable(); cq2.stop()
    val cAdmitted = cst2.get().admitted.select($"doc_id").as[Long].collect().toSet
    assert(cAdmitted.forall(_ < cOffset), cAdmitted.toSeq.sorted.mkString(","))
    assert(cAdmitted == cst1.get().admitted.select($"doc_id").as[Long].collect().toSet)
  }

  test("pack, decontam and sketch states survive a save/load restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{DecontamIngestState, DedupStateIO, PackIngestState}
    // --- pack: lane totals carry, so bins continue where they left off ---
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").orderBy($"doc_id").limit(60).cache()
    val pieces = SparkEntry.UnigramPinned
    val schema = "doc_id LONG, split STRING, shard LONG, n_tokens LONG, bin LONG"
    def emptyPack() = new java.util.concurrent.atomic.AtomicReference(
      PackIngestState(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(schema)),
        Seq.empty[(String, Long, Long)].toDF("split", "shard", "tok")))
    val pst1 = emptyPack()
    val pmem1 = MemoryStream[(Long, String)]
    val pq1 = Streaming.ingestPackSubwords(
      pmem1.toDF().toDF("doc_id", "text"), "doc_id", "text", pieces,
      budget = 500, shards = 4, pst1)
    val prows = docs.as[(Long, String)].collect()
    val (ppre, ppost) = prows.splitAt(prows.length / 2)
    pmem1.addData(ppre.toSeq); pq1.processAllAvailable(); pq1.stop()
    val packDir = java.nio.file.Files.createTempDirectory("packstate").toString
    DedupStateIO.save(pst1.get(), packDir)
    val pst2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadPack(spark, packDir))
    val pmem2 = MemoryStream[(Long, String)]
    val pq2 = Streaming.ingestPackSubwords(
      pmem2.toDF().toDF("doc_id", "text"), "doc_id", "text", pieces,
      budget = 500, shards = 4, pst2)
    pmem2.addData(ppost.toSeq); pq2.processAllAvailable(); pq2.stop()
    val streamedPack = pst2.get().packed
      .select($"doc_id", $"split", $"shard", $"n_tokens", $"bin")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val batchPack = graft.operators.Splits.packSubwords(docs, "doc_id", "text",
        pieces, budget = 500, shards = 4)
      .select($"doc_id", $"split", $"shard", $"n_tokens", $"bin")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    // bins across the restart equal the uninterrupted batch packing —
    // a lost lane total would restart every lane's prefix sum at 0
    assert(streamedPack == batchPack)
    // --- decontam: admissions + dropped tally carry ---
    val bench = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").orderBy($"doc_id".desc).limit(5)
    val grams = graft.operators.Decontam.benchGramSet(bench, "doc_id", "text", n = 3)
    val dst1 = new java.util.concurrent.atomic.AtomicReference(
      DecontamIngestState(docs.filter(lit(false))))
    val dmem1 = MemoryStream[(Long, String)]
    val dq1 = Streaming.ingestDecontam(
      dmem1.toDF().toDF("doc_id", "text"), "doc_id", "text",
      grams, n = 3, threshold = 0.5, dst1)
    dmem1.addData(ppre.toSeq); dq1.processAllAvailable(); dq1.stop()
    val decDir = java.nio.file.Files.createTempDirectory("decstate").toString
    DedupStateIO.save(dst1.get(), decDir)
    val back = DedupStateIO.loadDecontam(spark, decDir)
    assert(back.dropped == dst1.get().dropped)
    assert(back.admitted.select($"doc_id").as[Long].collect().toSet ==
      dst1.get().admitted.select($"doc_id").as[Long].collect().toSet)
    // --- sketches: the monoid state round-trips; restarted stream ≡ batch ---
    val vals = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"source").limit(200).cache()
    val sst1 = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.Sketches.hllRegisters(vals.filter(lit(false)), "source", p = 6))
    val smem1 = MemoryStream[String]
    val sq1 = Streaming.ingestHll(smem1.toDF().toDF("source"), "source", p = 6, sst1)
    val svals = vals.as[String].collect()
    val (spre, spost) = svals.splitAt(svals.length / 2)
    smem1.addData(spre.toSeq); sq1.processAllAvailable(); sq1.stop()
    val hllDir = java.nio.file.Files.createTempDirectory("hllstate").toString
    DedupStateIO.saveSketch(sst1.get(), hllDir)
    val sst2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadSketch(spark, hllDir))
    val smem2 = MemoryStream[String]
    val sq2 = Streaming.ingestHll(smem2.toDF().toDF("source"), "source", p = 6, sst2)
    smem2.addData(spost.toSeq); sq2.processAllAvailable(); sq2.stop()
    val streamedRegs = sst2.get().select($"bucket", $"rho")
      .as[(Int, Int)].collect().toSet
    val batchRegs = graft.operators.Sketches.hllRegisters(vals, "source", p = 6)
      .select($"bucket", $"rho").as[(Int, Int)].collect().toSet
    assert(streamedRegs == batchRegs)
  }

  test("streaming audio-block dedup drops trimmed copies across a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AudioBlockIngestState, DedupStateIO}
    val rows = SparkEntry.audioShiftFixtureRows()
    val byId = rows.toMap
    def media(ids: Seq[Long]) = ids.map(i => (i, byId(i))).toDF("id", "content")
    // phase 1: the four base tracks
    val empty = media(Seq.empty)
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      AudioBlockIngestState(empty.filter(lit(false)),
        graft.operators.Multimodal.audioBlockFingerprints(
          empty.filter(lit(false)))))
    val mem1 = MemoryStream[(Long, Array[Byte])]
    val q1 = Streaming.ingestDedupAudioBlocks(
      mem1.toDF().toDF("id", "content"), "id", "content", st1)
    mem1.addData((0L until 4L).map(i => (i, byId(i))))
    q1.processAllAvailable(); q1.stop()
    assert(st1.get().admitted.count() == 4)
    // persist + RESTART
    val dir = java.nio.file.Files.createTempDirectory("ablkstate").toString
    DedupStateIO.save(st1.get(), dir)
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadAudioBlocks(spark, dir))
    val mem2 = MemoryStream[(Long, Array[Byte])]
    val q2 = Streaming.ingestDedupAudioBlocks(
      mem2.toDF().toDF("id", "content"), "id", "content", st2)
    // phase 2: trimmed copies of PRE-restart bases + unrelated tracks
    mem2.addData(Seq(100L, 101L, 102L, 103L, 200L, 201L, 202L, 203L)
      .map(i => (i, byId(i))))
    q2.processAllAvailable(); q2.stop()
    val admitted = st2.get().admitted.select($"id").as[Long].collect().toSet
    // every trimmed copy of a pre-restart base dropped; unrelated kept
    assert(admitted == (0L until 4L).toSet ++ (200L until 204L).toSet,
      admitted.toSeq.sorted.mkString(","))
    // stream ≡ batch prefix rule over the full corpus
    val batch = graft.operators.Dedup.prefixKeepFirstByPairs(
        rows.toDF("id", "content"), "id",
        graft.operators.Dedup.audioBlockPairs(rows.toDF("id", "content")),
        "doc_a", "doc_b")
      .select($"id").as[Long].collect().toSet
    assert(admitted == batch)
    // block state covers every row ever seen, dropped included
    assert(st2.get().blocks.select($"id").distinct().count() == rows.length)
  }

  test("streaming subword packing equals batch packSubwords") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.PackIngestState
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").cache()
    val pieces = SparkEntry.UnigramPinned
    val schema = "doc_id LONG, split STRING, shard LONG, n_tokens LONG, bin LONG"
    val state = new java.util.concurrent.atomic.AtomicReference(
      PackIngestState(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(schema)),
        Seq.empty[(String, Long, Long)].toDF("split", "shard", "tok")))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ingestPackSubwords(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", pieces,
      budget = 1000, shards = 8, state)
    // id-ordered arrival over 5 microbatches — the packing order
    // assumption, batch boundaries cutting lanes mid-bin
    val rows = docs.orderBy($"doc_id").as[(Long, String)].collect()
    rows.grouped(rows.length / 5 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = state.get().packed
      .select($"doc_id", $"split", $"shard", $"n_tokens", $"bin")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Splits.packSubwords(docs, "doc_id", "text",
        pieces, budget = 1000, shards = 8)
      .select($"doc_id", $"split", $"shard", $"n_tokens", $"bin")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // the lane totals agree with the packed frame
    val totals = state.get().totals.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fromPacked = batch.groupBy(t => (t._2, t._3))
      .view.mapValues(_.toSeq.map(_._4).sum).toMap
    assert(totals == fromPacked)
  }

  test("streaming weighted sample == batch across replay and restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.DedupStateIO
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select($"doc_id", $"n_chars")
    val rows = docs.as[(Long, Long)].collect()
    val (pre, post) = rows.splitAt(rows.length / 2)
    val k = 50
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      docs.limit(0).withColumn("__priority", lit(0.0d)))
    val mem1 = MemoryStream[(Long, Long)]
    val q1 = Streaming.ingestSampleWeighted(
      mem1.toDF().toDF("doc_id", "n_chars"), "doc_id", "n_chars", k,
      state = st1)
    mem1.addData(pre.toSeq); q1.processAllAvailable()
    // replayed ids carry identical priorities: the state must not move
    val snapshot = st1.get().select($"doc_id").as[Long].collect().toSet
    mem1.addData(pre.take(100).toSeq); q1.processAllAvailable(); q1.stop()
    assert(st1.get().select($"doc_id").as[Long].collect().toSet == snapshot)
    // restart: persist the k+1-row monoid state, resume in a new stream
    val dir = java.nio.file.Files.createTempDirectory("wsample_state").toString
    DedupStateIO.saveSketch(st1.get(), dir)
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadSketch(spark, dir))
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = Streaming.ingestSampleWeighted(
      mem2.toDF().toDF("doc_id", "n_chars"), "doc_id", "n_chars", k,
      state = st2)
    mem2.addData(post.toSeq); q2.processAllAvailable(); q2.stop()
    assert(st2.get().count() == k + 1)
    // the read-out sample + estimator is EXACTLY the batch operator
    // over the union of everything either stream instance saw
    val streamed = Streaming.weightedSampleOf(st2.get(), "doc_id",
        "n_chars", k)
      .select($"doc_id", $"est_w").as[(Long, Double)].collect().toSet
    val batch = graft.operators.Splits.sampleWeightedTopK(docs, "doc_id",
        "n_chars", k)
      .select($"doc_id", $"est_w").as[(Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming per-group weighted sample == batch across a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.DedupStateIO
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select($"doc_id", $"n_chars", $"lang")
    val rows = docs.as[(Long, Long, String)].collect()
    val (pre, post) = rows.splitAt(rows.length / 2)
    val k = 25
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      docs.limit(0).withColumn("__priority", lit(0.0d)))
    val mem1 = MemoryStream[(Long, Long, String)]
    val q1 = Streaming.ingestSampleWeightedPerGroup(
      mem1.toDF().toDF("doc_id", "n_chars", "lang"), "doc_id", "n_chars",
      "lang", k, state = st1)
    mem1.addData(pre.toSeq); q1.processAllAvailable(); q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("wsg_state").toString
    DedupStateIO.saveSketch(st1.get(), dir)
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadSketch(spark, dir))
    val mem2 = MemoryStream[(Long, Long, String)]
    val q2 = Streaming.ingestSampleWeightedPerGroup(
      mem2.toDF().toDF("doc_id", "n_chars", "lang"), "doc_id", "n_chars",
      "lang", k, state = st2)
    mem2.addData(post.toSeq); q2.processAllAvailable(); q2.stop()
    // state bounded at groups x (k+1)
    val nGroups = docs.select($"lang").distinct().count()
    assert(st2.get().count() <= nGroups * (k + 1))
    val streamed = Streaming.weightedSamplePerGroupOf(st2.get(), "doc_id",
        "n_chars", "lang", k)
      .select($"lang", $"doc_id", $"est_w")
      .as[(String, Long, Double)].collect().toSet
    val batch = graft.operators.Splits.sampleWeightedPerGroup(docs, "doc_id",
        "n_chars", "lang", k)
      .select($"lang", $"doc_id", $"est_w")
      .as[(String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming DSIR: target-model ingest and frozen-lr scoring == batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dsir
    import graft.streaming.Streaming.DedupStateIO
    val m = 256
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val target = docs.filter($"lang" === "en").select($"text")
    // ---- target-model ingest: bounded ≤m-row monoid state, with a
    // save/load restart between the two halves
    val tRows = target.as[String].collect().toSeq
    val (pre, post) = tRows.splitAt(tRows.length / 2)
    val empty = Dsir.bucketTotals(target.filter(lit(false)), "text", m)
    val st1 = new java.util.concurrent.atomic.AtomicReference(empty)
    val mem1 = MemoryStream[String]
    val q1 = Streaming.ingestDsirTarget(mem1.toDF().toDF("text"), "text", m, st1)
    pre.grouped(60).foreach { b => mem1.addData(b); q1.processAllAvailable() }
    q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("dsirstate").toString
    DedupStateIO.saveSketch(st1.get(), dir)
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      DedupStateIO.loadSketch(spark, dir))
    val mem2 = MemoryStream[String]
    val q2 = Streaming.ingestDsirTarget(mem2.toDF().toDF("text"), "text", m, st2)
    post.grouped(60).foreach { b => mem2.addData(b); q2.processAllAvailable() }
    q2.stop()
    val gotTotals = st2.get().as[(Int, Long)].collect().toMap
    val wantTotals = Dsir.bucketTotals(target, "text", m)
      .as[(Int, Long)].collect().toMap
    assert(gotTotals == wantTotals)
    assert(st2.get().count() <= m)
    // ---- frozen-lr scoring stream == batch weights
    val lr = Dsir.logRatioQOfTotals(st2.get(),
      Dsir.bucketTotals(docs, "text", m, "cr"), m).localCheckpoint(true)
    val out = new java.util.concurrent.atomic.AtomicReference(
      Streaming.DsirScoreState(
        Dsir.weightsAgainst(docs.filter(lit(false)), "doc_id", "text", lr, m)))
    val rows = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val mem3 = MemoryStream[(Long, String)]
    val q3 = Streaming.scoreDsirStream(mem3.toDF().toDF("doc_id", "text"),
      "doc_id", "text", lr, m, out)
    rows.grouped(120).foreach { b => mem3.addData(b); q3.processAllAvailable() }
    q3.stop()
    val got = out.get().scored.as[(Long, Long, Long)].collect().toSet
    val want = Dsir.weightsAgainst(docs, "doc_id", "text", lr, m)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // and the frozen-lr path reproduces the one-shot weights exactly
    val oneShot = Dsir.weights(docs, "doc_id", "text", target, "text", m)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == oneShot)
  }

  test("streaming BM25 posting ingest == batch index across a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Retrieval
    import graft.streaming.Streaming.{Bm25IngestState, DedupStateIO}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().sortBy(_._1).toSeq
    val (pre, post) = rows.splitAt(rows.length / 2)
    val qs = docs.filter($"doc_id" < 3)
      .select($"doc_id".as("qid"), $"text".as("qtext"))
    val empty = Retrieval.postingsOf(docs.filter(lit(false)), "doc_id", "text")
    // phase 1: ingest the first half in 3 microbatches, persist state
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      Bm25IngestState(empty))
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Streaming.ingestBm25Postings(
      mem1.toDF().toDF("doc_id", "text"), "doc_id", "text", st1)
    pre.grouped(100).foreach { b => mem1.addData(b); q1.processAllAvailable() }
    q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("bm25state").toString
    DedupStateIO.saveSketch(st1.get().postings, dir)
    // phase 2: RESTART from the persisted posting frame, finish the corpus
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      Bm25IngestState(DedupStateIO.loadSketch(spark, dir)))
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.ingestBm25Postings(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", st2)
    post.grouped(100).foreach { b => mem2.addData(b); q2.processAllAvailable() }
    q2.stop()
    // the streamed-in index serves the EXACT batch ranking (scores and
    // ranks both) — stream ≡ batch including the df/dl/avgdl statistics
    val got = Retrieval.indexOfPostings(st2.get().postings)
      .searchTopK(qs, "qid", "qtext", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = Retrieval.buildIndex(docs, "doc_id", "text")
      .searchTopK(qs, "qid", "qtext", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(st2.get().postings.count() ==
      Retrieval.postingsOf(docs, "doc_id", "text").count())
  }

  test("streaming MaxSim token ingest == batch token frame across a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LateInteraction
    import graft.streaming.Streaming.{MaxSimIngestState, DedupStateIO}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val rows = docs.as[(Long, String)].collect().sortBy(_._1).toSeq
    val (pre, post) = rows.splitAt(rows.length / 2)
    val qToks = LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 3), "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")
    val empty = LateInteraction.tokenVectors(
      docs.filter(lit(false)), "doc_id", "text")
    // phase 1: ingest the first half in microbatches, persist state
    val st1 = new java.util.concurrent.atomic.AtomicReference(
      MaxSimIngestState(empty))
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Streaming.ingestIntoMaxSim(
      mem1.toDF().toDF("doc_id", "text"), "doc_id", "text", st1)
    pre.grouped(25).foreach { b => mem1.addData(b); q1.processAllAvailable() }
    q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("maxsimstate").toString
    DedupStateIO.saveSketch(st1.get().tokens, dir)
    // phase 2: RESTART from the persisted token frame, finish the corpus
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      MaxSimIngestState(DedupStateIO.loadSketch(spark, dir)))
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.ingestIntoMaxSim(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", st2)
    post.grouped(25).foreach { b => mem2.addData(b); q2.processAllAvailable() }
    q2.stop()
    // the streamed-in token frame serves the EXACT batch MaxSim
    // (scores, ranks, and tie order) — stream ≡ batch
    val got = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        st2.get().tokens, "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        LateInteraction.tokenVectors(docs, "doc_id", "text"),
        "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(st2.get().tokens.count() ==
      LateInteraction.tokenVectors(docs, "doc_id", "text").count())
  }

  test("streaming TokenIvf ingest == batch MaxSim across a save/load restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LateInteraction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val allToks = LateInteraction.tokenVectors(docs, "doc_id", "text")
      .localCheckpoint(true)
    // the seed tier carries the CORPUS norm ceiling so every arriving
    // batch clears the MIPS bound (production: the model's known 1.0)
    val bound = allToks.agg(max(sqrt(
      graft.functions.VectorOps.dot($"vec", $"vec")))).head().getDouble(0)
    val seed = LateInteraction.buildTokenIvf(
      LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 40), "doc_id", "text"),
      "doc_id", "tok_idx", "vec",
      IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 5),
      maxNormBound = bound)
    val rest = docs.filter($"doc_id" >= 40).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val (pre, post) = rest.splitAt(rest.length / 2)
    // phase 1: stream half the remainder into the live tier, persist
    val st1 = new java.util.concurrent.atomic.AtomicReference(seed)
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Streaming.ingestIntoTokenIvf(
      mem1.toDF().toDF("doc_id", "text"), "doc_id", "text", st1)
    pre.grouped(20).foreach { b => mem1.addData(b); q1.processAllAvailable() }
    q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("tokivfstream").toString
    st1.get().save(dir)
    seed.ivf.indexed.unpersist()
    // phase 2: RESTART from the persisted tier (maxNorm sidecar rides
    // along), finish the corpus
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      LateInteraction.loadTokenIvf(spark, dir))
    val mem2 = MemoryStream[(Long, String)]
    // the restarted stream runs TRUSTED: the reloaded tier's bound is
    // the corpus ceiling, so batches are contractually under it and
    // the per-microbatch norm-guard job is skipped — the hot-ingest
    // path must still land every token and serve identically
    val q2 = Streaming.ingestIntoTokenIvf(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", st2,
      trustedBound = true)
    post.grouped(20).foreach { b => mem2.addData(b); q2.processAllAvailable() }
    q2.stop()
    // probe-all + m >= tokens over the streamed-in tier == the batch
    // exhaustive MaxSim (scores, ranks, tie order)
    val qToks = LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 3), "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")
    val total = allToks.count().toInt
    val got = LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
        allToks, "doc_id", "vec", st2.get(), k = 10, m = total, nprobe = 4)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        allToks, "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    // every streamed doc's tokens landed in the tier exactly once
    assert(st2.get().ivf.indexed.count() == allToks.count())
  }

  test("streaming TokenPq ingest == batch MaxSim across a save/load restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LateInteraction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val allToks = LateInteraction.tokenVectors(docs, "doc_id", "text")
      .localCheckpoint(true)
    val bound = allToks.agg(max(sqrt(
      graft.functions.VectorOps.dot($"vec", $"vec")))).head().getDouble(0)
    // seed: float tier over the first 40 docs (corpus norm ceiling),
    // residual-PQ-compressed — the frozen parts every arriving batch
    // encodes against
    val seedIvf = LateInteraction.buildTokenIvf(
      LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 40), "doc_id", "text"),
      "doc_id", "tok_idx", "vec",
      IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 5),
      maxNormBound = bound)
    val seed = seedIvf.compressPq(graft.index.PQ.Params(m = 4, k = 16,
      iterations = 4, seed = 7L))
    val rest = docs.filter($"doc_id" >= 40).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val (pre, post) = rest.splitAt(rest.length / 2)
    // phase 1: stream half into the live PQ tier, persist
    val st1 = new java.util.concurrent.atomic.AtomicReference(seed)
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Streaming.ingestIntoTokenPq(
      mem1.toDF().toDF("doc_id", "text"), "doc_id", "text", st1)
    pre.grouped(20).foreach { b => mem1.addData(b); q1.processAllAvailable() }
    q1.stop()
    val dir = java.nio.file.Files.createTempDirectory("tokpqstream").toString
    st1.get().save(dir)
    seedIvf.ivf.indexed.unpersist()
    // phase 2: RESTART from the persisted tier (maxNorm sidecar +
    // cluster-partitioned codes ride along), trusted hot path
    val st2 = new java.util.concurrent.atomic.AtomicReference(
      LateInteraction.loadTokenPq(spark, dir))
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.ingestIntoTokenPq(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", st2,
      trustedBound = true)
    post.grouped(20).foreach { b => mem2.addData(b); q2.processAllAvailable() }
    q2.stop()
    // probe-all + m >= tokens over the streamed-in PQ tier == the
    // batch exhaustive MaxSim (candidates cover every doc regardless
    // of ADC ordering; stage 2 exact)
    val qToks = LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 3), "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")
    val total = allToks.count().toInt
    val got = LateInteraction.maxSimPq(qToks, "qid", "tok_idx", "vec",
        allToks, "doc_id", "vec", st2.get(), k = 10, m = total, nprobe = 4)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        allToks, "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    // every streamed doc's codes landed in the tier exactly once
    assert(st2.get().pq.codes.count() == allToks.count())
  }

  test("TokenIvf.remove drops a document's tokens from the live tier") {
    import graft.operators.LateInteraction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 60)
    val toks = LateInteraction.tokenVectors(docs, "doc_id", "text")
      .localCheckpoint(true)
    val tier = LateInteraction.buildTokenIvf(toks, "doc_id", "tok_idx",
      "vec", IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 5))
    val removed = tier.remove(
      docs.filter($"doc_id" >= 50).select($"doc_id"), "doc_id")
    val keptToks = toks.filter($"doc_id" < 50)
    val qToks = LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 3), "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")
    val total = keptToks.count().toInt
    val got = LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
        keptToks, "doc_id", "vec", removed, k = 10, m = total, nprobe = 4)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        keptToks, "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(removed.ivf.indexed.count() == keptToks.count())
    tier.ivf.indexed.unpersist()
  }

  test("streamed takedowns + TokenIvf.rebalance: stream == batch, sizes recount, probe-all exact") {
    // the takedown-heavy ingest story: 30% of the corpus leaves across
    // removal microbatches (Streaming.foldBatches of remove on the live
    // token tier), then the periodic repair job rebalances — the remedy
    // remove's frozen-size drift prescribes — and the repaired tier
    // must serve the SURVIVORS exactly like a batch-built pipeline
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LateInteraction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 100)
    val toks = LateInteraction.tokenVectors(docs, "doc_id", "text")
      .localCheckpoint(true)
    val tier = LateInteraction.buildTokenIvf(toks, "doc_id", "tok_idx",
      "vec", IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 5))
    val preRows = toks.count()
    // 30% takedown set, streamed in 3 microbatches
    val gone = (0L until 100L).filter(_ % 10 < 3)
    val st = new java.util.concurrent.atomic.AtomicReference(tier)
    val mem = MemoryStream[Long]
    val q = Streaming.foldBatches(mem.toDF().toDF("doc_id"), st)(
      _.remove(_, "doc_id"))
    gone.grouped(10).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // stream ≡ batch: the live tier holds exactly the one-shot batch
    // remove's rows (ids compare exactly; remove is a pure anti-join)
    val batchRemoved = tier.remove(
      gone.toDF("doc_id"), "doc_id")
    val streamIds = st.get().ivf.indexed.select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batchIds = batchRemoved.ivf.indexed.select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamIds == batchIds)
    // remove's documented drift: sizes stay frozen at the pre count
    assert(st.get().ivf.clusterSizes.sum == preRows)
    // periodic repair: rebalance recounts to the survivors ...
    val repaired = st.get().rebalance(iterations = 2)
    val keptToks = toks.filter($"doc_id" % 10 >= 3)
    assert(repaired.ivf.clusterSizes.sum == keptToks.count())
    // ... and the repaired live tier serves the survivors exactly
    // (probe-all + m >= tokens == the exhaustive oracle)
    val qToks = LateInteraction.tokenVectors(
        docs.filter($"doc_id" === 3 || $"doc_id" === 4), "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")
    val total = keptToks.count().toInt
    val got = LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
        keptToks, "doc_id", "vec", repaired, k = 10, m = total, nprobe = 4)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        keptToks, "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    Seq(tier, repaired).foreach(_.cool())
  }

  test("streamed ingest into a SPLIT token tier: sub-cell grid ingests like any grid, probe-all exact") {
    // the skew-repair lifecycle under live ingest: a Zipf-skewed tier
    // splits its hot cells, then KEEPS ingesting — the split grid is a
    // plain grid (first-class sub-cells, frozen like any add target),
    // so streamed rows argmin into sub-cells and the live tier serves
    // exactly like the batch pipeline over the full corpus
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LateInteraction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 100)
    val allToks = LateInteraction.tokenVectors(docs, "doc_id", "text")
      .localCheckpoint(true)
    val bound = allToks.agg(max(sqrt(
      graft.functions.VectorOps.dot($"vec", $"vec")))).head().getDouble(0)
    val seed = LateInteraction.buildTokenIvf(
      LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 60), "doc_id", "text"),
      "doc_id", "tok_idx", "vec",
      IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 5),
      maxNormBound = bound)
    val split = seed.splitHotCells(maxCellFactor = 0.5, iterations = 2)
    assert(split.ivf.centroids.length > seed.ivf.centroids.length,
      "the corpus must trip a real split")
    val rest = docs.filter($"doc_id" >= 60).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val st = new java.util.concurrent.atomic.AtomicReference(split)
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ingestIntoTokenIvf(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", st)
    rest.grouped(20).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // every streamed token landed exactly once on the split grid
    assert(st.get().ivf.indexed.count() == allToks.count())
    // stream == batch: the live tier's rows match split.add of the
    // same remainder in one shot
    val batchAdded = split.add(
      LateInteraction.tokenVectors(
        docs.filter($"doc_id" >= 60), "doc_id", "text"),
      "doc_id", "tok_idx", "vec")
    val streamIds = st.get().ivf.indexed.select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batchIds = batchAdded.ivf.indexed.select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamIds == batchIds)
    // probe-all + m >= tokens over the live split tier == exhaustive
    val qToks = LateInteraction.tokenVectors(
        docs.filter($"doc_id" < 3), "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")
    val total = allToks.count().toInt
    val got = LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
        allToks, "doc_id", "vec", st.get(), k = 10, m = total,
        nprobe = st.get().ivf.centroids.length)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val want = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        allToks, "doc_id", "vec", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
    Seq(seed, split).foreach(_.cool())
  }
}
