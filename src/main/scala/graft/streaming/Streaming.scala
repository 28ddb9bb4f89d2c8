package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import java.util.concurrent.atomic.AtomicReference

/** Structured-Streaming operators. The reference's only online mutation is
  * `Index::add` (base.rs:28, SURVEY §2.2/§3.3); its Spark-native analogue
  * is a streaming ingest that appends to the embeddings table and patches
  * the index once per microbatch ([[Streaming.foldBatches]]). Beyond
  * that we add the event-time operators a training-data pipeline needs
  * (windowed aggregation, gap sessionization), written so the SAME
  * transformation serves batch DataFrames (→ DuckDB-oracle-checkable)
  * and streaming ones (with watermarks).
  */
object Streaming {

  /** Tumbling 5-minute counts + min/max per event type. Works on a batch
    * or streaming `events` DataFrame; pass a watermark for append-mode
    * streams. Accepts `ts` as TimestampType OR as epoch-ns long (the
    * shape the driver's events table reads as under `nanosAsLong`) —
    * ns-long is converted via µs truncation. Window starts surface as
    * epoch seconds (engine-portable — no timezone-rendering hazards in
    * the oracle compare). */
  def windowCounts(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val tsTyped =
      if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else events
    val src = watermark.map(w => tsTyped.withWatermark("ts", w)).getOrElse(tsTyped)
    src
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .select(col("window.start").cast("long").as("w_start"),
        col("event_type"), col("n"), col("min_v"), col("max_v"))
  }

  /** Batch gap-sessionization over an epoch-NANOS long `ts` column (the
    * driver's events table reads as ns-long under
    * `spark.sql.legacy.parquet.nanosAsLong`): a new session starts when
    * the gap to the user's previous event exceeds `gapSec`. All-integer
    * math → exact and engine-portable. One row per session. */
  def sessionize(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapNs = gapSec * 1000000000L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(expr("ts div 1000000000")).as("start_s"),
        max(expr("ts div 1000000000")).as("end_s"))
  }

  case class SessionEvent(userId: Long, tsNs: Long, eventId: Long)
  case class SessionAgg(userId: Long, sessionId: Long, nEvents: Long,
                        startS: Long, endS: Long)
  case class SessState(sessionId: Long, startNs: Long, lastTsNs: Long,
                               nEvents: Long, startS: Long, endS: Long)

  /** Streaming counterpart of [[sessionize]] via flatMapGroupsWithState:
    * per-user state carries the open session; a gap closes it and emits
    * the aggregate. Same all-integer ns math as the batch version. (The
    * reference has no streaming surface — SURVEY §2.9 — this is
    * north-star pipeline capability.)
    *
    * Ordering contract (cross-microbatch): events are sorted within each
    * batch, and a late event arriving after the open session advanced is
    *  - folded into the open session exactly (count only — span and
    *    lastTs can't move backward) when it falls inside the session's
    *    current [startNs, lastTsNs] span — identical to what batch
    *    [[sessionize]] produces, since sorted order would place it there;
    *  - DROPPED when it predates the open session's start: that session
    *    boundary may already be emitted (append mode — no retraction).
    *    Bound such loss upstream with a watermark ≤ `gapSec`. */
  def sessionizeStream(events: Dataset[SessionEvent], gapSec: Long = 1800L)
  : Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapNs = gapSec * 1000000000L
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, evs, state: GroupState[SessState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tsNs, e.eventId))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[SessionAgg]
          sorted.foreach { e =>
            val s = e.tsNs / 1000000000L
            if (st == null) {
              st = SessState(1L, e.tsNs, e.tsNs, 1L, s, s)
            } else if (e.tsNs < st.startNs) {
              // late beyond the open session's start — see contract above
            } else if (e.tsNs < st.lastTsNs) {
              // late but inside the open session's span: batch order would
              // place it mid-session; only the count changes
              st = st.copy(nEvents = st.nEvents + 1)
            } else if (e.tsNs - st.lastTsNs > gapNs) {
              out += SessionAgg(userId, st.sessionId, st.nEvents, st.startS, st.endS)
              st = SessState(st.sessionId + 1, e.tsNs, e.tsNs, 1L, s, s)
            } else {
              st = st.copy(lastTsNs = e.tsNs, nEvents = st.nEvents + 1, endS = s)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup (one survivor per key) with WATERMARK-BOUNDED
    * state: keys whose event time falls more than `delay` behind the
    * watermark are evicted, so an unbounded stream holds bounded state
    * — the scale contract that makes streaming exact dedup deployable
    * (a key recurring after `delay` re-emits; global forever-dedup is
    * the batch operator's job, [[graft.operators.Dedup.exactKeepFirst]],
    * or the unbounded-state `dropDuplicates`). */
  def dedupExactStream(stream: DataFrame, keyCols: Seq[String],
                       tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The one streaming driver: folds each non-empty microbatch of
    * `stream` into `state` with `step` and returns the running query;
    * read the evolving state from `state`. Every stateful ingest below
    * runs through it, and an index ingest or takedown stream is one call:
    *
    * {{{
    * Streaming.foldBatches(vecStream, state)(_.add(_, "id", "vector"))
    * Streaming.foldBatches(idStream, state)(_.remove(_, "id"))
    * }}}
    *
    * Contract:
    *  - the batch sink is the sole writer (the stream engine serializes
    *    microbatches), so a plain get/set is race-free — and unlike
    *    `updateAndGet` it can never re-invoke `step`, which launches
    *    Spark jobs and must run exactly once per batch;
    *  - empty batches are skipped: `step` never sees an empty frame;
    *  - a `step` that throws fails the query and leaves `state` at the
    *    previous batch's value (the set happens only after `step`
    *    returns);
    *  - the batch is readable only inside its own call, so a frame the
    *    new state keeps that is derived from it must be materialized
    *    (`localCheckpoint(true)`) there, or a later evaluation re-scans
    *    a source that has moved on;
    *  - a deployment running both an ingest and a takedown against one
    *    state must serialize them onto one stream: two writers would
    *    race the read-modify-write. */
  def foldBatches[S](stream: DataFrame, state: AtomicReference[S])
                    (step: (S, DataFrame) => S): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) state.set(step(state.get(), batch))
      }
      .start()

  /** State of the streaming near-dup admission filter
    * ([[ingestDedupMinhash]]): `admitted` accumulates the surviving
    * rows; `bands` accumulates EVERY band-bucket key seen so far —
    * including dropped docs' keys, which is what makes the admission
    * rule exactly [[graft.operators.Dedup.prefixKeepFirst]] (a doc is
    * dropped iff it shares a bucket with ANY earlier doc, admitted or
    * not) rather than an approximation of it. */
  case class DedupIngestState(admitted: DataFrame, bands: DataFrame,
                              addsSinceCompact: Int = 0)

  /** Streaming MinHash near-dup dedup — the admission-filter shape a
    * training-data ingest needs: each microbatch drops (a) docs sharing
    * a band bucket with any doc from an EARLIER batch (state semi-join)
    * and (b) docs sharing a bucket with a lower-id doc in the SAME
    * batch, then appends the survivors to `admitted` and ALL the
    * batch's bucket keys to `bands`. With id-ordered arrival this
    * reproduces the batch `dedup_prefix_keepfirst` oracle rule
    * batch-for-batch (see [[graft.operators.Dedup.prefixKeepFirst]] for
    * why prefix-causality is the strongest rule a no-retraction stream
    * can enforce). Shuffle shape per batch: one bucket semi-join against
    * state (equi-join on (band, key) — posting-list sized, never
    * all-pairs) + one batch-local self-join. State lineage compacts on
    * the [[graft.index.Lineage.CompactEvery]] cadence like every other
    * ingest twin, so unbounded microbatch counts hold plan depth
    * bounded. */
  def ingestDedupMinhash(stream: DataFrame, idCol: String, textCol: String,
                         state: java.util.concurrent.atomic.AtomicReference[DedupIngestState],
                         numHashes: Int = 12, bandSize: Int = 2)
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      // materialize the signature stage once — it feeds the state
      // semi-join, the intra-batch self-join, AND the new state
      val b = graft.operators.Dedup
        .minhashBands(batch, idCol, textCol, numHashes, bandSize)
        .localCheckpoint(true)
      val dupVsState = b.join(st.bands, Seq("band", "key"), "left_semi")
        .select(col("id"))
      val dupIntra = b.as("l").join(b.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.id") < col("r.id"))
        .select(col("r.id").as("id"))
      val losers = dupVsState.unionByName(dupIntra).distinct()
        .withColumnRenamed("id", idCol)
      // materialize the increment like `b` above: each admitted
      // batch joins against the batch bands AND the state bands, so
      // un-checkpointed it would stack a ~45-node join subtree per
      // union — bounded by the cadence, but ~10× heavier per batch
      // than the index twins' narrow assign/encode increments
      val admittedBatch = batch.join(losers, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      // both state frames compact on the shared cadence
      val (admitted, n) = graft.index.Lineage.compact(
        st.admitted.unionByName(admittedBatch), st.addsSinceCompact)
      val (bands, _) = graft.index.Lineage.compact(
        st.bands.unionByName(b), st.addsSinceCompact)
      DedupIngestState(admitted, bands, n)
    }

  /** Persist / restore EVERY long-running ingest state — restart
    * durability, the streaming analogue of the index tiers' save/load
    * (base.rs:31's only durability story): a stream restart that
    * loses its fingerprint/band/seen-vector/digest/tally memory
    * silently re-admits every future duplicate of the pre-restart
    * corpus (or resets its caps / lane totals / sketch registers).
    * One overload pair per state family — minhash bands, perceptual
    * fingerprints, semantic seen-vectors, source-cap tallies, the
    * curate digest+tally pair, pack lane totals, decontam admissions,
    * and the four monoid sketches. Layout: one parquet table per
    * state frame. The save runs on a checkpoint cadence of the
    * caller's choosing (the localCheckpoint compaction inside the
    * ingest twins is executor-memory durability only). */
  object DedupStateIO {
    def save(st: DedupIngestState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      st.bands.write.mode("overwrite").parquet(s"$dir/bands")
    }
    def load(spark: org.apache.spark.sql.SparkSession,
             dir: String): DedupIngestState =
      DedupIngestState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/bands"))

    def save(st: FingerprintIngestState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      st.fps.write.mode("overwrite").parquet(s"$dir/fps")
    }
    def loadFingerprint(spark: org.apache.spark.sql.SparkSession,
                        dir: String): FingerprintIngestState =
      FingerprintIngestState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/fps"))

    def save(st: SemdedupIngestState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      st.seen.write.mode("overwrite").parquet(s"$dir/seen")
    }
    def loadSemdedup(spark: org.apache.spark.sql.SparkSession,
                     dir: String): SemdedupIngestState =
      SemdedupIngestState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/seen"))

    def save(st: SourceCapState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      st.counts.write.mode("overwrite").parquet(s"$dir/counts")
    }
    def loadSourceCap(spark: org.apache.spark.sql.SparkSession,
                      dir: String): SourceCapState =
      SourceCapState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/counts"))

    def save(st: CurateIngestState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      st.digests.write.mode("overwrite").parquet(s"$dir/digests")
      st.counts.write.mode("overwrite").parquet(s"$dir/counts")
    }
    def loadCurate(spark: org.apache.spark.sql.SparkSession,
                   dir: String): CurateIngestState =
      CurateIngestState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/digests"),
        spark.read.parquet(s"$dir/counts"))

    def save(st: PackIngestState, dir: String): Unit = {
      st.packed.write.mode("overwrite").parquet(s"$dir/packed")
      st.totals.write.mode("overwrite").parquet(s"$dir/totals")
    }
    def loadPack(spark: org.apache.spark.sql.SparkSession,
                 dir: String): PackIngestState =
      PackIngestState(spark.read.parquet(s"$dir/packed"),
        spark.read.parquet(s"$dir/totals"))

    def save(st: DecontamIngestState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      // the dropped tally is a scalar — one-row parquet keeps the
      // layout uniform (no side-channel JSON to keep in sync)
      st.admitted.sparkSession.range(1)
        .select(lit(st.dropped).as("dropped"))
        .write.mode("overwrite").parquet(s"$dir/meta")
    }
    def loadDecontam(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DecontamIngestState =
      DecontamIngestState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/meta").head().getAs[Long]("dropped"))

    def save(st: AudioBlockIngestState, dir: String): Unit = {
      st.admitted.write.mode("overwrite").parquet(s"$dir/admitted")
      st.blocks.write.mode("overwrite").parquet(s"$dir/blocks")
    }
    def loadAudioBlocks(spark: org.apache.spark.sql.SparkSession,
                        dir: String): AudioBlockIngestState =
      AudioBlockIngestState(spark.read.parquet(s"$dir/admitted"),
        spark.read.parquet(s"$dir/blocks"))

    /** The four sketch ingests (HLL / Bloom / CMS / KMV) keep their
      * whole state in ONE bounded DataFrame (registers / words /
      * counters / bottom-R hashes — they're monoids), so persistence
      * is a single parquet table. The load localCheckpoints so the
      * restarted stream folds batches into a frozen plan, exactly like
      * the in-memory state it replaces. */
    def saveSketch(state: DataFrame, dir: String): Unit =
      state.write.mode("overwrite").parquet(dir)
    def loadSketch(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame =
      spark.read.parquet(dir).localCheckpoint(true)
  }

  /** State of the streaming semantic dedup ([[ingestSemdedup]]):
    * `admitted` accumulates surviving rows; `seen` accumulates EVERY
    * row's (id, vector, cluster) — dropped rows included, which is
    * what makes the rule exactly
    * [[graft.operators.Dedup.semanticPrefixKeepFirst]] (drop iff any
    * earlier same-cell row within the threshold, admitted or not). */
  case class SemdedupIngestState(admitted: DataFrame, seen: DataFrame,
                                 addsSinceCompact: Int = 0)

  /** Streaming SemDeDup admission — [[ingestDedupMinhash]]'s semantic
    * twin: each microbatch is assigned to its frozen k-means cell(s)
    * (broadcast centroids, narrow argmin; boundary vectors
    * multi-assign to their top-2 cells exactly like the batch rule —
    * [[graft.index.IVFFlat.assignMulti]]), then drops (a) rows within
    * `maxCosDist` of any SEEN shared-cell row (state equi-join on
    * `cluster`, distance filtered inside the join — the
    * [[graft.operators.Dedup.semanticPairsMulti]] shape; double hits
    * via two shared cells are absorbed by the distinct) and (b) rows
    * within the threshold of a lower-id row in the SAME batch.
    * Survivors append to `admitted`; ALL batch rows append to `seen`.
    * With id-ordered arrival this reproduces the batch
    * `dedup_semantic_prefix` oracle rule exactly (StreamingSpec pins
    * it). Per-batch cost: batch × same-cell-state candidates — the
    * cell partition bounds the join the way band buckets bound the
    * MinHash twin's. */
  def ingestSemdedup(stream: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Float]], maxCosDist: Double,
                     state: java.util.concurrent.atomic.AtomicReference[SemdedupIngestState],
                     marginSq: Double = 1.5)
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val b = graft.index.IVFFlat.assignMulti(batch, idCol, vecCol,
          centroids, marginSq)
        .drop("cells")
        .localCheckpoint(true)
      val cosDist = (a: org.apache.spark.sql.Column,
                     c: org.apache.spark.sql.Column) =>
        graft.functions.VectorOps.cosineDistance(a, c)
      val dupVsState = b.as("n").join(st.seen.as("s"),
          col("n.cluster") === col("s.cluster") &&
            cosDist(col("n.vector"), col("s.vector")) < maxCosDist)
        .select(col("n.id").as("id"))
      val dupIntra = b.as("l").join(b.as("r"),
          col("l.cluster") === col("r.cluster") &&
            col("l.id") < col("r.id") &&
            cosDist(col("l.vector"), col("r.vector")) < maxCosDist)
        .select(col("r.id").as("id"))
      val losers = dupVsState.unionByName(dupIntra).distinct()
        .withColumnRenamed("id", idCol)
      val admittedBatch = batch.join(losers, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val (admitted, n) = graft.index.Lineage.compact(
        st.admitted.unionByName(admittedBatch), st.addsSinceCompact)
      val (seen, _) = graft.index.Lineage.compact(
        st.seen.unionByName(b), st.addsSinceCompact)
      SemdedupIngestState(admitted, seen, n)
    }

  /** State of the streaming per-source admission cap
    * ([[ingestSourceCap]]): `admitted` accumulates surviving rows;
    * `counts` is the per-source admitted tally (src, n) — the only
    * thing the admission decision needs, so state stays
    * posting-list-small (one row per source ever seen). */
  case class SourceCapState(admitted: DataFrame, counts: DataFrame,
                            addsSinceCompact: Int = 0)

  /** Streaming per-source admission cap — the domain-cap stage as an
    * ingest filter: a doc is admitted iff fewer than `cap` docs of its
    * source were admitted before it (earlier batches via the `counts`
    * state; same-batch earlier rows via a batch-local rank in id
    * order). With id-ordered arrival this reproduces
    * [[graft.operators.TermStats.prefixSourceCap]] batch-for-batch —
    * the prefix-causal rule, exactly like the minhash admission twin
    * above (no retraction: a stream cannot un-admit a doc when a
    * "better" one arrives later, so content-addressed ranking is a
    * batch-only luxury). Per-batch work: one batch-local window (batch
    * rows only, never state) + one broadcast join against the (src, n)
    * tally. Both state frames compact on the Lineage cadence. */
  def ingestSourceCap(stream: DataFrame, idCol: String, srcCol: String,
                      cap: Int,
                      state: java.util.concurrent.atomic.AtomicReference[SourceCapState])
  : StreamingQuery = {
    require(cap > 0, s"ingestSourceCap: cap must be positive, got $cap")
    foldBatches(stream, state) { (st, batch) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(srcCol)).orderBy(col(idCol).asc)
      val admittedBatch = batch
        .withColumn("_rk", row_number().over(w))
        .join(broadcast(st.counts.withColumnRenamed("src", srcCol)),
          Seq(srcCol), "left")
        .filter(col("_rk") + coalesce(col("n"), lit(0L)) <= cap)
        .drop("_rk", "n")
        .localCheckpoint(true)
      val batchCounts = admittedBatch
        .groupBy(col(srcCol).cast("string").as("src"))
        .agg(count(lit(1)).as("n"))
      val (admitted, n) = graft.index.Lineage.compact(
        st.admitted.unionByName(admittedBatch), st.addsSinceCompact)
      val (counts, _) = graft.index.Lineage.compact(
        st.counts.unionByName(batchCounts)
          .groupBy("src").agg(sum("n").as("n")),
        st.addsSinceCompact)
      SourceCapState(admitted, counts, n)
    }
  }

  /** State of the streaming curation chain ([[ingestCurate]]):
    * `admitted` accumulates survivors (input schema); `digests` is the
    * set of every norm-digest ever SEEN past the gates (including docs
    * the cap later dropped — a duplicate of a cap-dropped doc is still
    * a duplicate); `counts` is the per-source admitted tally. Both
    * control frames are posting-list-small: one row per distinct
    * digest / source. */
  case class CurateIngestState(admitted: DataFrame, digests: DataFrame,
                               counts: DataFrame, addsSinceCompact: Int = 0)

  /** The curation chain AT INGEST TIME — pipeline_curate's streaming
    * twin, composed from the three streaming-enforceable stages:
    * language+quality gates (pure narrow maps, batch-local), exact
    * normalized dedup (keep-first in id order: state digest anti-join +
    * batch-local first-occurrence window), and the prefix-causal
    * per-source cap ([[ingestSourceCap]]'s rule). With id-ordered
    * arrival this reproduces the batch chain
    * gates → Dedup.exactKeepFirst(norm_h) → TermStats.prefixSourceCap
    * batch-for-batch (stream ≡ batch pinned in StreamingSpec). Stage
    * order matters and matches the batch twin: dedup BEFORE cap, so a
    * duplicate never consumes cap budget, and a cap-dropped doc still
    * registers its digest. Per-batch shuffle: two batch-local windows +
    * two broadcast joins against set-sized state. */
  def ingestCurate(stream: DataFrame, idCol: String, srcCol: String,
                   textCol: String, cap: Int,
                   state: java.util.concurrent.atomic.AtomicReference[CurateIngestState])
  : StreamingQuery = {
    require(cap > 0, s"ingestCurate: cap must be positive, got $cap")
    import graft.operators.TextOps
    foldBatches(stream, state) { (st, batch) =>
      val inputCols = batch.columns.map(col)
      // gates + digest, evaluated once (regex-heavy)
      val gated = batch
        .filter(TextOps.langId(col(textCol)) =!= "und" &&
          TextOps.qualityScore(col(textCol)) >= lit(0.5))
        .withColumn("norm_h", md5(TextOps.normalizeText(col(textCol))))
        .localCheckpoint(true)
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("norm_h")).orderBy(col(idCol).asc)
      val deduped = gated
        .join(broadcast(st.digests), Seq("norm_h"), "left_anti")
        .withColumn("_first", row_number().over(wd))
        .filter(col("_first") === 1).drop("_first")
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col(srcCol)).orderBy(col(idCol).asc)
      val admittedBatch = deduped
        .withColumn("_rk", row_number().over(wc))
        .join(broadcast(st.counts.withColumnRenamed("src", srcCol)),
          Seq(srcCol), "left")
        .filter(col("_rk") + coalesce(col("n"), lit(0L)) <= cap)
        .select(inputCols: _*)
        .localCheckpoint(true)
      val batchCounts = admittedBatch
        .groupBy(col(srcCol).cast("string").as("src"))
        .agg(count(lit(1)).as("n"))
      val (admitted, n) = graft.index.Lineage.compact(
        st.admitted.unionByName(admittedBatch), st.addsSinceCompact)
      val (digests, _) = graft.index.Lineage.compact(
        st.digests.unionByName(gated.select(col("norm_h"))).distinct(),
        st.addsSinceCompact)
      val (counts, _) = graft.index.Lineage.compact(
        st.counts.unionByName(batchCounts)
          .groupBy("src").agg(sum("n").as("n")),
        st.addsSinceCompact)
      CurateIngestState(admitted, digests, counts, n)
    }
  }

  /** Accumulator state for [[ingestIntoHNSWSideMerge]]: the serving
    * model, the pending (not yet searchable) row buffer, and the
    * batch counter driving the merge cadence. */
  case class HnswSideMergeState(main: graft.index.HNSW.Model,
                                pending: Option[DataFrame],
                                batches: Int)

  /** HNSW ingest via SIDE-BUILD + periodic [[graft.index.HNSW.Model.merge]]
    * — the compaction-shaped alternative to folding
    * [[graft.index.HNSW.Model.add]] through [[foldBatches]]: add()
    * deserializes + re-serializes every touched shard blob EVERY
    * microbatch (O(shard) work for O(batch) rows), while this twin only
    * buffers rows per batch and, every `mergeEvery` batches, builds a
    * fresh side graph from the buffer (executor-local, sized by
    * `shardRows`) and merges it in as new shards — a renumber + union,
    * no existing blob touched (measured 0.93 s at 1M, BASELINE r8).
    * The trade is freshness: buffered rows are invisible to search
    * until the cadence fires. Shard count grows by ⌈buffer/shardRows⌉
    * per cycle; the long-horizon compaction is a periodic full
    * [[graft.index.HNSW.build]], exactly as rebuildLeaves is for LSH. */
  def ingestIntoHNSWSideMerge(stream: DataFrame, idCol: String, vecCol: String,
                              state: java.util.concurrent.atomic.AtomicReference[HnswSideMergeState],
                              mergeEvery: Int = 8, shardRows: Int = 30000)
  : StreamingQuery = {
    require(mergeEvery > 0 && shardRows > 0)
    // side builds are unrouted, and merge's routed/unrouted fallback
    // would silently drop a routed main's routers on the first cadence
    // — refuse up front; routed models fold HNSW.Model.add instead
    require(state.get().main.routers.isEmpty,
      "ingestIntoHNSWSideMerge on a ROUTED model would drop its routers " +
        "at the first merge (side builds are unrouted) — use " +
        "foldBatches with HNSW.Model.add, or rebuild routed on a " +
        "maintenance cadence")
    foldBatches(stream, state) { (s, batch) =>
      val rows = batch.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vector"))
      // eager checkpoint: the buffer must not re-read source batches
      val pend = s.pending.map(_.unionByName(rows)).getOrElse(rows)
        .localCheckpoint(true)
      if (s.batches + 1 >= mergeEvery) {
        val n = pend.count()
        val shards = math.max(1, math.ceil(n.toDouble / shardRows).toInt)
        val side = graft.index.HNSW.build(pend, "id", "vector",
          s.main.params, numShards = shards)
        val merged = s.main.merge(side)
        // eager checkpoint per cadence: an uncompacted merge chain
        // stacks one union node per cycle forever — the exact
        // per-microbatch lineage blowup HNSW.add checkpoints
        // against (see its comment and Lineage.scala)
        HnswSideMergeState(
          merged.copy(shards = merged.shards.localCheckpoint(true)),
          None, 0)
      } else {
        s.copy(pending = Some(pend), batches = s.batches + 1)
      }
    }
  }

  /** Streaming sketch maintenance — every sketch in
    * [[graft.operators.Sketches]] is a MONOID (HLL registers merge by
    * max, Bloom words by bit_or, CMS counters by sum), so a stream
    * maintains the exact batch sketch by folding each microbatch's
    * partial sketch into bounded state (≤ 2^p / m/32 / depth·2^logw
    * rows — localCheckpoint keeps the plan O(1) across batches). The
    * merged state is IDENTICAL to the batch sketch over the union of
    * batches (StreamingSpec pins stream ≡ batch row-for-row), so the
    * DuckDB-gated batch semantics carry over to the stream for free. */
  def ingestHll(stream: DataFrame, valueCol: String, p: Int,
                state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.Sketches.hllRegisters(batch, valueCol, p)
      val merged = st.unionByName(part)
        .groupBy("bucket").agg(max("rho").as("rho"))
      merged.localCheckpoint(true)
    }

  /** Bloom twin of [[ingestHll]]: word-level bit_or merge. */
  def ingestBloom(stream: DataFrame, valueCol: String, logm: Int, k: Int,
                  state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.Sketches.bloomBuild(batch, valueCol, logm, k)
      val merged = st.unionByName(part)
        .groupBy("word").agg(expr("bit_or(bits)").as("bits"))
      merged.localCheckpoint(true)
    }

  /** CMS twin of [[ingestHll]]: counter-level sum merge. */
  def ingestCms(stream: DataFrame, valueCol: String, logw: Int, depth: Int,
                state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.Sketches.cmsBuild(batch, valueCol, logw, depth)
      val merged = st.unionByName(part)
        .groupBy("row", "col").agg(sum("cnt").as("cnt"))
      merged.localCheckpoint(true)
    }

  /** KMV twin of [[ingestHll]]: bottom-R monoid merge — union the
    * standing sketch with the batch's bottom-R, collapse duplicate
    * hashes, keep the R smallest. State stays ≤ R longs however long
    * the stream runs, and after any prefix it equals the batch sketch
    * over the same rows (stream ≡ batch, pinned in StreamingSpec). */
  def ingestKmv(stream: DataFrame, valueCol: String, r: Int,
                state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.Sketches.kmvSketch(batch, valueCol, r)
      val merged = st.unionByName(part)
        .dropDuplicates("h")
        .orderBy(org.apache.spark.sql.functions.col("h")).limit(r)
      merged.localCheckpoint(true)
    }

  /** Streaming DSIR target-model ingest: the state is the target
    * corpus's (bucket, ct) totals — a ≤ m-row MONOID (per-key sums),
    * so the state is BOUNDED however long the target stream runs, the
    * merge is exact (stream ≡ batch, StreamingSpec pin), and restarts
    * persist through the one-frame [[DedupStateIO.saveSketch]] path.
    * Serve with [[graft.operators.Dsir.logRatioQOfTotals]] against a
    * raw-corpus model, then score anything via
    * [[graft.operators.Dsir.weightsAgainst]]. */
  def ingestDsirTarget(stream: DataFrame, textCol: String, m: Int,
                       state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.Dsir.bucketTotals(batch, textCol, m)
      val merged = st.unionByName(part)
        .groupBy("bucket")
        .agg(org.apache.spark.sql.functions.sum("ct").as("ct"))
      merged.localCheckpoint(true)
    }

  /** State of [[scoreDsirStream]]: the accumulated scored rows
    * (lineage-compacted every 32 batches like the other accumulating
    * twins). */
  case class DsirScoreState(scored: DataFrame, addsSinceCompact: Int = 0)

  /** Streaming DSIR scoring against a FROZEN log-ratio table: each
    * microbatch scores independently (a document arrives whole in one
    * batch, so the per-doc dot-product never spans batches — stream ≡
    * batch exactly); scored rows accumulate in the state. The lr
    * table is m rows, broadcast into every batch's plan — the serving
    * shape for "score the firehose, keep what looks like the
    * target". */
  def scoreDsirStream(stream: DataFrame, idCol: String, textCol: String,
                      lr: DataFrame, m: Int,
                      state: java.util.concurrent.atomic.AtomicReference[DsirScoreState])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val scored = graft.operators.Dsir
        .weightsAgainst(batch, idCol, textCol, lr, m)
        .localCheckpoint(true)
      val (merged, n) = graft.index.Lineage.compact(
        st.scored.unionByName(scored), st.addsSinceCompact)
      DsirScoreState(merged, n)
    }

  /** State of [[ingestBm25Postings]]: the standing (doc_id, term, tf)
    * posting frame — an index-sized frame (like the ANN ingest
    * states), durable for restarts via the one-frame
    * [[DedupStateIO.saveSketch]]/`loadSketch` path on `postings`. */
  case class Bm25IngestState(postings: DataFrame, addsSinceCompact: Int = 0)

  /** Streaming BM25 posting ingest — the lexical tier's build twin:
    * each microbatch tokenizes into its own (doc_id, term, tf)
    * partial ([[graft.operators.Retrieval.postingsOf]] — a document
    * arrives whole in one batch, the ingest twins' doc-level arrival
    * contract, so partials across batches are disjoint and the merge
    * is a plain union: stream ≡ batch exactly, StreamingSpec pin).
    * Raw text never enters the state — 16-byte-ish posting rows do.
    * Serve any snapshot via
    * [[graft.operators.Retrieval.indexOfPostings]] (df/dl/stats are
    * re-aggregations of the postings at serve time, so they are
    * always consistent with the standing state). */
  def ingestBm25Postings(stream: DataFrame, idCol: String, textCol: String,
                         state: java.util.concurrent.atomic.AtomicReference[Bm25IngestState])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.Retrieval
        .postingsOf(batch, idCol, textCol).localCheckpoint(true)
      val (merged, n) = graft.index.Lineage.compact(
        st.postings.unionByName(part), st.addsSinceCompact)
      Bm25IngestState(merged, n)
    }

  /** State of [[ingestIntoMaxSim]]: the standing (doc_id, tok_idx,
    * vec) token-embedding frame — the multi-vector tier's index
    * artifact itself ([[graft.operators.LateInteraction.saveTokens]]'s
    * layout), durable for restarts via the one-frame
    * [[DedupStateIO.saveSketch]]/`loadSketch` path on `tokens`. */
  case class MaxSimIngestState(tokens: DataFrame, addsSinceCompact: Int = 0)

  /** Streaming multi-vector (MaxSim) ingest — the late-interaction
    * tier's build twin: each microbatch embeds into its own (doc_id,
    * tok_idx, vec) token partial ([[graft.operators.LateInteraction
    * .tokenVectors]] — a document arrives whole in one batch, the
    * ingest twins' doc-level arrival contract, so partials across
    * batches are doc-disjoint and the merge is [[graft.operators
    * .LateInteraction.addTokens]]'s plain union: token frames are
    * monoids, stream ≡ batch exactly, StreamingSpec pin). Raw text
    * never enters the state — token-embedding rows do, and the corpus
    * embeds exactly once, at arrival. Serve any snapshot via
    * [[graft.operators.LateInteraction.maxSim]]/`maxSimShortlisted`
    * (or build the ANN tier over it with `buildTokenIvf`). */
  def ingestIntoMaxSim(stream: DataFrame, idCol: String, textCol: String,
                       state: java.util.concurrent.atomic.AtomicReference[MaxSimIngestState],
                       dim: Int = 16)
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.LateInteraction
        .tokenVectors(batch, idCol, textCol, dim).localCheckpoint(true)
      val (merged, n) = graft.index.Lineage.compact(
        graft.operators.LateInteraction.addTokens(st.tokens, part),
        st.addsSinceCompact)
      MaxSimIngestState(merged, n)
    }

  /** ANN-tier twin of [[ingestIntoMaxSim]] — streaming ingest into a
    * LIVE token IVF tier: each microbatch embeds its documents and
    * [[graft.operators.LateInteraction.TokenIvf.add]]s the token rows
    * under the tier's frozen centroids (the IVFFlat.Model.add
    * discipline on packed token ids; lineage compacts inside add).
    * Build the seed tier with an explicit `maxNormBound` (the model's
    * norm ceiling — 1.0 for L2-normalized production tokens) so
    * arriving batches can never trip the MIPS bound mid-stream; a
    * batch that does exceed it fails the stream loudly rather than
    * mis-rank silently. `trustedBound = true` drops that per-batch
    * max-norm guard job — the hot-ingest lever for streams whose
    * embedding model CONTRACTUALLY bounds its output (L2-normalized
    * tokens under bound 1.0): one driver-blocking aggregation per
    * microbatch saved, at the cost that a violating batch mis-ranks
    * silently ([[graft.operators.LateInteraction.TokenIvf.add]]'s
    * trust contract). Serve any snapshot via `maxSimIvf` on
    * `state.get()`. */
  def ingestIntoTokenIvf(stream: DataFrame, idCol: String, textCol: String,
                         state: java.util.concurrent.atomic.AtomicReference[graft.operators.LateInteraction.TokenIvf],
                         dim: Int = 16, trustedBound: Boolean = false)
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.LateInteraction
        .tokenVectors(batch, idCol, textCol, dim).localCheckpoint(true)
      st.add(part, "doc_id", "tok_idx", "vec", trustedBound)
    }

  /** PQ-tier twin of [[ingestIntoTokenIvf]] — streaming ingest into a
    * LIVE residual-PQ token tier: each microbatch embeds its documents
    * and [[graft.operators.LateInteraction.TokenPq.add]]s the token
    * rows through the frozen-parts fused assign+encode pass (coarse
    * grid and codebooks never move mid-stream; quantization quality
    * for arriving rows is the frozen codebooks' — re-train on the
    * codebook cadence, not per batch). Same bound contract and
    * `trustedBound` hot-ingest lever as the float twin; serve any
    * snapshot via `maxSimPq` on `state.get()`, persist for restarts
    * via `TokenPq.save`/`loadTokenPq` (StreamingSpec round-trips it). */
  def ingestIntoTokenPq(stream: DataFrame, idCol: String, textCol: String,
                        state: java.util.concurrent.atomic.AtomicReference[graft.operators.LateInteraction.TokenPq],
                        dim: Int = 16, trustedBound: Boolean = false)
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = graft.operators.LateInteraction
        .tokenVectors(batch, idCol, textCol, dim).localCheckpoint(true)
      st.add(part, "doc_id", "tok_idx", "vec", trustedBound)
    }

  /** Priority-sampling twin of [[ingestHll]] — a weighted sample of
    * exactly k rows maintained over an unbounded stream: the whole
    * state is the current top-(k+1) frame by the content-addressed
    * priority q = w/u ([[graft.operators.Splits.sampleWeightedTopK]]
    * — priorities depend only on (id, weight), so merging per-batch
    * priorities IS the batch computation: stream ≡ batch exactly, the
    * StreamingSpec pin). Replayed ids collapse via dropDuplicates
    * (same id ⇒ same priority). State is k+1 rows — bounded, a
    * monoid, persisted for restarts with the one-frame
    * [[DedupStateIO.saveSketch]] path. Read the finished sample (with
    * the unbiased subset-sum estimator est_w) via
    * [[weightedSampleOf]]. */
  def ingestSampleWeighted(stream: DataFrame, idCol: String,
                           weightCol: String, k: Int,
                           salt: String = "wsample",
                           state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = batch
        .select(col(idCol), col(weightCol))
        .withColumn("__priority",
          graft.operators.Splits.priorityOf(idCol, weightCol, salt))
      val merged = st.unionByName(part)
        .dropDuplicates(idCol)
        .orderBy(col("__priority").desc, col(idCol))
        .limit(k + 1)
      merged.localCheckpoint(true)
    }

  /** Read-out face of [[ingestSampleWeighted]]: the final k-row sample
    * + estimator from the live (or [[DedupStateIO.loadSketch]]-
    * restored) top-(k+1) state — identical to what the batch operator
    * returns over the union of every batch. */
  def weightedSampleOf(state: DataFrame, idCol: String, weightCol: String,
                       k: Int): DataFrame =
    graft.operators.Splits.finishSample(state, idCol, weightCol, k)

  /** Per-group twin of [[ingestSampleWeighted]] (the stratified
    * stream: k per source/language over unbounded input): state is the
    * per-group top-(k+1) frame — bounded at groups × (k+1) rows, same
    * monoid merge (per-group rank of the union), same one-frame
    * [[DedupStateIO.saveSketch]] durability. Read out with
    * [[weightedSamplePerGroupOf]]. */
  def ingestSampleWeightedPerGroup(stream: DataFrame, idCol: String,
                                   weightCol: String, groupCol: String,
                                   k: Int, salt: String = "wsample",
                                   state: java.util.concurrent.atomic.AtomicReference[DataFrame])
  : StreamingQuery =
    foldBatches(stream, state) { (st, batch) =>
      val part = batch
        .select(col(idCol), col(weightCol), col(groupCol))
        .withColumn("__priority",
          graft.operators.Splits.priorityOf(idCol, weightCol, salt))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol))
        .orderBy(col("__priority").desc, col(idCol))
      val merged = st.unionByName(part)
        .dropDuplicates(idCol)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k + 1)
        .drop("__rn")
      merged.localCheckpoint(true)
    }

  /** Read-out face of [[ingestSampleWeightedPerGroup]]: priorities are
    * content-addressed, so the batch operator run ON THE STATE is the
    * batch operator run on everything the stream ever saw. */
  def weightedSamplePerGroupOf(state: DataFrame, idCol: String,
                               weightCol: String, groupCol: String,
                               k: Int, salt: String = "wsample"): DataFrame =
    graft.operators.Splits.sampleWeightedPerGroup(
      state.drop("__priority"), idCol, weightCol, groupCol, k, salt)

  /** PII scrub at ingest — [[graft.operators.Pii.redact]] as a
    * STATELESS streaming transform: no state store, no watermark, the
    * same Column expressions as the batch pii_redact lane, so
    * stream ≡ batch holds by construction (still pinned in
    * StreamingSpec). Composable before any other ingest stage —
    * scrubbing belongs upstream of dedup/caps so redacted text is what
    * gets digested and admitted. Returns the input columns with
    * `textCol` replaced by its redaction plus a `pii_hits` count of
    * what was removed.
    */
  def scrubStream(stream: DataFrame, textCol: String): DataFrame = {
    import graft.operators.Pii
    stream
      .withColumn("pii_hits", Pii.totalHits(col(textCol)))
      .withColumn(textCol, Pii.redact(col(textCol)))
  }

  /** THE WHOLE PRETRAIN CHAIN AS A STATELESS STREAMING TRANSFORM —
    * pipeline_pretrain's streaming face: PII scrub → Gopher quality
    * gate → literal-gram decontamination → fixed-rate mixing →
    * group-aware split, every stage a narrow codegen map (no state
    * store, no watermark, no join), so it runs identically on a batch
    * or streaming DataFrame and stream ≡ batch holds by construction
    * (still pinned in StreamingSpec).
    *
    * The two frozen inputs are the online-serving contract: the
    * benchmark gram set is a takedown-sized literal (same contract as
    * [[graft.operators.Decontam.overlapAgainstLiteral]]), and
    * `mixRates` are per-stratum keep rates computed OFFLINE (a stream
    * cannot see the final source distribution; production recomputes
    * rates per epoch and redeploys — exactly how batch-trained mixing
    * weights ship today).
    */
  def pretrainStream(stream: DataFrame, idCol: String, srcCol: String,
                     stratumCol: String, textCol: String,
                     benchGrams: Array[String], n: Int, threshold: Double,
                     mixRates: Map[String, Double],
                     cuts: Seq[(String, Double)] = Seq(
                       ("train", 0.8), ("val", 0.9), ("test", 1.0))): DataFrame = {
    import graft.operators.{Decontam, Pii, Splits, TextOps}
    val scrubbed = stream
      .withColumn(textCol, Pii.redact(col(textCol)))
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(TextOps.gopherKeep(col("__toks")))
      .withColumn("__grams", Decontam.gramsOf(col("__toks"), n))
      .withColumn("__hit",
        size(array_intersect(col("__grams"), lit(benchGrams.sorted))).cast("long"))
      .withColumn("__ng", size(col("__grams")).cast("long"))
      .filter(when(col("__ng") > 0,
        col("__hit").cast("double") / col("__ng").cast("double"))
        .otherwise(lit(0.0)) < lit(threshold))
    val rate = mixRates.toSeq.sortBy(_._1).foldRight(lit(1.0): Column) {
      case ((k, v), rest) =>
        when(col(stratumCol) === lit(k), lit(v)).otherwise(rest)
    }
    val mixed = scrubbed.filter(
      Splits.hashFrac(concat(col(idCol).cast("string"), lit(":mix"))) < rate)
    Splits.assignByGroup(mixed, srcCol, cuts)
      .drop("__toks", "__grams", "__hit", "__ng")
  }

  /** Subword tokenization at ingest — [[graft.operators.Unigram
    * .encode]] as a STATELESS streaming transform: the piece table
    * broadcasts (trained offline, like the pretrainStream mix rates —
    * a stream cannot see corpus-wide piece statistics; production
    * retrains per epoch and redeploys), segmentation is a narrow
    * mapPartitions, no state store, no watermark — the SAME code runs
    * on batch or stream, so stream ≡ batch holds by construction
    * (pinned in StreamingSpec). */
  def tokenizeStream(stream: DataFrame, idCol: String, textCol: String,
                     pieces: Array[graft.operators.Unigram.Piece]): DataFrame =
    graft.operators.Unigram.encode(stream, idCol, textCol, pieces)

  /** State of [[ingestPackSubwords]]: `packed` accumulates the binned
    * docs; `totals` is one row per (split, shard) lane — its running
    * token total, the only cross-batch memory packing needs. */
  case class PackIngestState(packed: DataFrame, totals: DataFrame,
                             addsSinceCompact: Int = 0)

  /** Subword-budget packing AT INGEST — doc_pack_subword's streaming
    * twin: each microbatch is tokenized with the broadcast vocabulary
    * ([[graft.operators.Unigram.subwordCounts]]), splits/shards are
    * content-addressed exactly as in batch, and the bin is the batch
    * rule's exclusive prefix sum — the batch-LOCAL lane window plus
    * the lane's RUNNING total carried in state (lane-count-sized: one
    * row per (split, shard)). With id-ordered arrival this reproduces
    * [[graft.operators.Splits.packSubwords]] batch-for-batch (stream ≡
    * batch pinned in StreamingSpec). Per-batch shuffle: one lane
    * window over the batch + a broadcast join against the tiny totals
    * frame. */
  def ingestPackSubwords(stream: DataFrame, idCol: String, textCol: String,
                         pieces: Array[graft.operators.Unigram.Piece],
                         budget: Int, shards: Int,
                         state: java.util.concurrent.atomic.AtomicReference[PackIngestState],
                         cuts: Seq[(String, Double)] = Seq(
                           ("train", 0.8), ("val", 0.9), ("test", 1.0)))
  : StreamingQuery = {
    require(budget > 0, s"ingestPackSubwords: budget must be positive")
    require(shards > 0, s"ingestPackSubwords: shards must be positive")
    foldBatches(stream, state) { (st, batch) =>
      val counted = graft.operators.Unigram
        .subwordCounts(batch, idCol, textCol, pieces)
        .withColumnRenamed("id", idCol)
      val withSplit = graft.operators.Splits.assign(counted, idCol, cuts)
        .withColumn("shard",
          pmod(col(idCol).cast("long"), lit(shards.toLong)))
        .withColumn("n_tokens", col("n_subwords"))
      val lane = org.apache.spark.sql.expressions.Window
        .partitionBy("split", "shard").orderBy(col(idCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val packedBatch = withSplit
        .withColumn("__bprior",
          coalesce(sum(col("n_tokens")).over(lane), lit(0L)))
        .join(broadcast(st.totals), Seq("split", "shard"), "left")
        .withColumn("prior", col("__bprior") + coalesce(col("tok"), lit(0L)))
        .withColumn("bin", (col("prior") / lit(budget.toLong)).cast("long"))
        .select(col(idCol), col("split"), col("shard"), col("n_tokens"),
          col("bin"))
        .localCheckpoint(true)
      // derive totals from the CHECKPOINTED packed frame: a lazy
      // aggregate over the raw batch would re-scan the source on a
      // later evaluation, when it holds more rows (the microbatch
      // re-evaluation trap every state frame here guards against)
      val batchTotals = packedBatch.groupBy("split", "shard")
        .agg(sum("n_tokens").as("tok"))
      val (packed, n) = graft.index.Lineage.compact(
        st.packed.unionByName(packedBatch), st.addsSinceCompact)
      val (totals, _) = graft.index.Lineage.compact(
        st.totals.unionByName(batchTotals)
          .groupBy("split", "shard").agg(sum("tok").as("tok")),
        st.addsSinceCompact)
      PackIngestState(packed, totals, n)
    }
  }

  /** State of [[ingestDedupFingerprint]]: `admitted` accumulates
    * surviving media rows; `fps` accumulates EVERY row's (id, sim)
    * fingerprint — dropped rows included (prefix semantics: a
    * duplicate of a dropped row is still a duplicate). 16 B per row
    * ever seen. */
  case class FingerprintIngestState(admitted: DataFrame, fps: DataFrame,
                                    addsSinceCompact: Int = 0)

  /** Perceptual-fingerprint dedup AT INGEST — the image/audio twin of
    * [[ingestDedupMinhash]]: each microbatch fingerprints with the
    * supplied narrow kernel ([[graft.operators.Multimodal.imagePhash]]
    * / audioHash — pass it pre-renamed to (id, sim)), then drops
    * (a) rows within `maxHamming` of any SEEN fingerprint (the
    * cross-frame pigeonhole chunk join,
    * [[graft.operators.Dedup.crossHammingPairs]] — batch×state moves
    * chunk keys, never media bytes) and (b) rows within the threshold
    * of a lower-id row in the SAME batch. Survivors append to
    * `admitted`; ALL batch fingerprints append to `fps`. With
    * id-ordered arrival this reproduces the batch
    * [[graft.operators.Dedup.prefixKeepFirstByPairs]] over the full
    * pair frame exactly (StreamingSpec pins it for pHash). */
  def ingestDedupFingerprint(stream: DataFrame, idCol: String,
                             fingerprint: DataFrame => DataFrame,
                             maxHamming: Int,
                             state: java.util.concurrent.atomic.AtomicReference[FingerprintIngestState])
  : StreamingQuery = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"ingestDedupFingerprint: maxHamming in [0,64), got $maxHamming")
    foldBatches(stream, state) { (st, batch) =>
      val bfp = fingerprint(batch).localCheckpoint(true) // (id, sim)
      val dupVsState = graft.operators.Dedup
        .crossHammingPairs(bfp, st.fps, maxHamming, bits = 64)
        .select(col("id_a").as("id"))
      val dupIntra = graft.operators.Dedup
        .simhashPairsOf(bfp, maxHamming, bits = 64)
        .select(col("doc_b").as("id"))
      val losers = dupVsState.unionByName(dupIntra).distinct()
        .withColumnRenamed("id", idCol)
      val admittedBatch = batch.join(losers, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val (admitted, n) = graft.index.Lineage.compact(
        st.admitted.unionByName(admittedBatch), st.addsSinceCompact)
      val (fps, _) = graft.index.Lineage.compact(
        st.fps.unionByName(bfp), st.addsSinceCompact)
      FingerprintIngestState(admitted, fps, n)
    }
  }

  /** State of [[ingestDedupAudioBlocks]]: `admitted` accumulates
    * surviving media rows; `blocks` accumulates EVERY row's (id,
    * block, bfp) sub-fingerprints — dropped rows included (prefix
    * semantics). ~16 B per hop ever seen. */
  case class AudioBlockIngestState(admitted: DataFrame, blocks: DataFrame,
                                   addsSinceCompact: Int = 0)

  /** SHIFT-ROBUST audio dedup AT INGEST — the block-fingerprint twin
    * of [[ingestDedupFingerprint]], catching silence-trimmed /
    * intro-clipped copies of earlier tracks: each microbatch is
    * block-fingerprinted ([[graft.operators.Multimodal.audioBlockFingerprints]]),
    * then drops (a) rows matching any SEEN track at a consistent
    * block offset with ≥ `minMatches` distinct anchors (the
    * batch×state anchor equi-join + offset vote,
    * [[graft.operators.Dedup.audioBlockHitsVs]] — moves 16 B posting
    * rows, never audio bytes) and (b) rows matching a lower-id row in
    * the SAME batch ([[graft.operators.Dedup.audioBlockPairsOf]]).
    * Survivors append to `admitted`; ALL batch blocks append to
    * `blocks`. With id-ordered arrival this reproduces batch
    * [[graft.operators.Dedup.prefixKeepFirstByPairs]] over
    * [[graft.operators.Dedup.audioBlockPairs]] exactly (StreamingSpec
    * pins it). */
  def ingestDedupAudioBlocks(stream: DataFrame, idCol: String,
                             contentCol: String,
                             state: java.util.concurrent.atomic.AtomicReference[AudioBlockIngestState],
                             frameSec: Double = 0.25, hopSec: Double = 0.0625,
                             minMatches: Int = 4, dfCap: Int = 64)
  : StreamingQuery = {
    require(minMatches >= 1,
      s"ingestDedupAudioBlocks: minMatches >= 1, got $minMatches")
    foldBatches(stream, state) { (st, batch) =>
      val bblk = graft.operators.Multimodal
        .audioBlockFingerprints(batch, idCol, contentCol, frameSec, hopSec)
        .localCheckpoint(true)
      val dupVsState = graft.operators.Dedup
        .audioBlockHitsVs(bblk, st.blocks, minMatches, dfCap)
      val dupIntra = graft.operators.Dedup
        .audioBlockPairsOf(bblk, minMatches, dfCap)
        .select(col("doc_b").as("id"))
      val losers = dupVsState.unionByName(dupIntra).distinct()
        .withColumnRenamed("id", idCol)
      val admittedBatch = batch.join(losers, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val (admitted, n) = graft.index.Lineage.compact(
        st.admitted.unionByName(admittedBatch), st.addsSinceCompact)
      val (blocks, _) = graft.index.Lineage.compact(
        st.blocks.unionByName(bblk), st.addsSinceCompact)
      AudioBlockIngestState(admitted, blocks, n)
    }
  }

  /** Span-level decontamination at ingest — contam_scrub_spans'
    * streaming face: the benchmark gram set rides as a broadcast
    * literal and the whole gram-hit → islands → excise pipeline runs
    * row-local ([[graft.operators.Decontam.scrubSpansRowLocal]] — no
    * join, no window, no state store), so the SAME code serves batch
    * and stream and stream ≡ batch holds by construction (pinned in
    * StreamingSpec against the distributed scrubContaminatedSpans). */
  def scrubContamStream(stream: DataFrame, idCol: String, textCol: String,
                        benchGrams: Array[String], n: Int): DataFrame =
    graft.operators.Decontam.scrubSpansRowLocal(stream, idCol, textCol,
      benchGrams, n)

  /** Image fingerprinting at ingest — image_phash's streaming face:
    * pHash is a pure narrow map (decode → DCT → bits, no state), so
    * [[graft.operators.Multimodal.imagePhash]] runs on the stream
    * verbatim; undecodable rows drop in-flight exactly like batch. */
  def phashStream(stream: DataFrame, idCol: String = "id",
                  contentCol: String = "content"): DataFrame =
    graft.operators.Multimodal.imagePhash(stream, idCol, contentCol)

  /** Point-in-interval enrichment at ingest —
    * [[graft.operators.RangeJoin.pointInInterval]] as a STREAM-STATIC
    * join: streaming points (event timestamps, packed IPs) against a
    * frozen interval table (sessions, CIDR blocks, maintenance
    * windows). The operator is already streaming-shaped — a narrow
    * bucket map on the stream side, an equi-join against the exploded
    * static side, the long-interval branch a stream-static broadcast
    * nested loop; no state store, no watermark, per-batch work is the
    * batch operator verbatim, so stream ≡ batch holds by construction
    * (pinned in StreamingSpec). The static side is localCheckpointed
    * once — microbatches must re-join a frozen plan, not recompute the
    * interval frame's lineage per batch. */
  def rangeJoinStream(points: DataFrame, pointCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      width: Long, longCap: Int = 64): DataFrame = {
    val frozen = intervals.localCheckpoint(true)
    graft.operators.RangeJoin.pointInInterval(points, pointCol, frozen,
      loCol, hiCol, width, longCap)
  }

  /** State of [[ingestDecontam]]: `admitted` accumulates clean docs,
    * `dropped` counts contaminated ones. */
  case class DecontamIngestState(admitted: DataFrame, dropped: Long = 0L,
                                 addsSinceCompact: Int = 0)

  /** Benchmark decontamination at ingest — the stream-static shape:
    * the benchmark gram set is computed ONCE
    * ([[graft.operators.Decontam.benchGramSet]], takedown-sized) and
    * re-broadcast against each microbatch; a batch doc whose distinct
    * n-gram overlap reaches `threshold` is dropped before admission.
    * Per-batch work is the batch operator verbatim, so stream ≡ batch
    * admission is exact (pinned in StreamingSpec). */
  def ingestDecontam(stream: DataFrame, idCol: String, textCol: String,
                     benchGrams: DataFrame, n: Int, threshold: Double,
                     state: java.util.concurrent.atomic.AtomicReference[DecontamIngestState])
  : StreamingQuery = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"ingestDecontam: threshold in (0, 1], got $threshold")
    val frozenGrams = benchGrams.localCheckpoint(true)
    foldBatches(stream, state) { (st, batch) =>
      val inputCols = batch.columns.map(col)
      val scored = graft.operators.Decontam.ngramOverlapAgainstGrams(
        batch, idCol, textCol, frozenGrams, n)
      // materialized like every sibling's admitted batch: lazy, the
      // count below and each later read of `admitted` would re-run the
      // gram-overlap join until the next compaction
      val clean = batch.join(
        scored.filter(col("overlap") < threshold).select(col(idCol)),
        Seq(idCol), "left_semi").select(inputCols: _*)
        .localCheckpoint(true)
      val nBatch = batch.count()
      val nClean = clean.count()
      val (admitted, adds) = graft.index.Lineage.compact(
        st.admitted.unionByName(clean), st.addsSinceCompact)
      DecontamIngestState(admitted,
        st.dropped + (nBatch - nClean), adds)
    }
  }
}
