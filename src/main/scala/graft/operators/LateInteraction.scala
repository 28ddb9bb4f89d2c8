package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.dot
import graft.index.{IVFFlat, ParamsIO, SQ8}

/** Late-interaction (multi-vector) retrieval — ColBERT-style MaxSim
  * (Khattab & Zaharia 2020, public): each query and document is a BAG
  * of token embeddings, and
  *
  *   score(q, d) = Σ over q-tokens of ( max over d-tokens of ⟨qtok, dtok⟩ )
  *
  * — every query token independently finds its best-matching document
  * token, so exact-term, paraphrase and partial matches all contribute
  * without a single pooled vector washing them out. Completes the
  * engine's retrieval matrix (lexical BM25 / dense kNN / hybrid RRF /
  * phrase / late-interaction) beyond the reference's single-vector
  * surface (vers serves one embedding per item, base.rs:27-58).
  *
  * Precision contract: per-pair dots run the fused codegen kernel in
  * double and are quantized to 1e-6 BIGINTs BEFORE max/sum — floor is
  * monotone, so max commutes with the quantization, and the integer
  * max-then-sum is order-free (the BM25 score_q discipline). With
  * integer-valued token embeddings ([[tokenVectors]]) every step is
  * exact, which is what makes maxsim_exact a full DuckDB replay.
  *
  * Scale shapes:
  *  - [[maxSim]] (exhaustive, the oracle face): q-token frame is
  *    broadcast (serving-sized — queries × ≤32 tokens), the d-token
  *    corpus is scanned ONCE in place; the pair volume collapses
  *    map-side through a partial max into (docs × q-tokens) rows, and
  *    the rank-k cut is a WindowGroupLimit. The corpus never shuffles.
  *  - [[maxSimShortlisted]] (the serving face): per-q-token top-`m`
  *    d-tokens (TopKAggExpr partial heaps — the knnJoin kernel) yield
  *    a candidate doc set of ≤ queries × tokens × m, and only those
  *    docs are scored exactly — the pair volume drops from
  *    |corpus-tokens| × |q-tokens| to |candidate-tokens| × |q-tokens|
  *    (the BQ broadcast-shortlist re-rank shape). m ≥ corpus token
  *    count reproduces [[maxSim]] exactly (spec gate).
  */
object LateInteraction {

  /** Integer token-embedding frame (doc_id, tok_idx, vec ARRAY<DOUBLE>
    * with integer values): each token embeds as the hashing-trick fold
    * of its character trigrams plus the whole term ([[TextOps
    * .hashEmbedding]] — model-free, engine-portable md5 hashing), so
    * morphologically close tokens share trigram coordinates and dot
    * products are EXACT integers. The production path swaps this for
    * real model token embeddings (same frame shape); this constructor
    * is what makes the whole MaxSim pipeline oracle-replayable with no
    * model in the loop. */
  def tokenVectors(docs: DataFrame, idCol: String, textCol: String,
                   dim: Int = 16, wide: Boolean = false): DataFrame = {
    val term = col("term")
    // char trigrams; terms shorter than 3 chars contribute just the
    // whole-term gram (sequence() would descend for stop < start)
    val tris = when(length(term) >= 3,
        transform(sequence(lit(1), length(term) - 2),
          i => term.substr(i, lit(3))))
      .otherwise(array())
    val grams = concat(array(term), tris)
    // `wide`: widen BEFORE the explode+md5 embed — per-doc work here is
    // dozens of digest calls, so a corpus that fits one parquet split
    // would embed on one core (measured 6.5 s single-task at sf0.1;
    // Scaling.widen scaladoc; no-op at scale). Opt-in because only the
    // CALLER knows whether `docs` is corpus-sized (embed dominates) or
    // serving-sized (query batches, bounded lanes — widening those
    // taxes every downstream job with core-count tasks for nothing).
    // The projection runs first so the exchange carries only (id, text).
    val src = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    (if (wide) Scaling.widen(src) else src)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("__text"))).as(Seq("tok_idx", "term")))
      .select(col("doc_id"), col("tok_idx").cast("long").as("tok_idx"),
        TextOps.hashEmbedding(grams, dim).cast("array<double>").as("vec"))
  }

  /** Persist a token-embedding frame — the multi-vector tier's index
    * artifact (ColBERT persists exactly this: one embedding row per
    * document token). The frame is written canonical (doc_id, tok_idx,
    * vec) so [[loadTokens]] serves either face with zero recompute —
    * embedding the corpus (a model forward pass in production, the
    * hashing trick here) happens ONCE at build, never at serve; this is
    * the same serve-from-the-persisted-index contract the BM25 and
    * vector tiers gate (reference anchor: base.rs:31-58). Lifecycle
    * extensions compose on the frame itself: add = unionByName of a
    * disjoint-doc_id token frame, remove = broadcast anti-join on
    * doc_id — both then re-[[saveTokens]].
    *
    * Layout: DOC-CLUSTERED (range-partitioned + sorted by doc_id, the
    * term-clustered positional-save precedent) so every doc's token
    * rows share row groups and stage 2's pushed In(doc_id, […])
    * candidate filter ([[rescoreCandidates]]) turns the serve-time
    * read seek-sized: parquet min/max stats skip the row groups that
    * hold no candidate doc. Pure layout — any reader sees the same
    * frame. */
  def saveTokens(toks: DataFrame, dir: String): Unit =
    toks.select(col("doc_id").cast("long"), col("tok_idx").cast("long"),
        col("vec").cast("array<double>"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("tok_idx"))
      .write.mode("overwrite").parquet(s"$dir/tokens")

  /** Reload a saved token frame (columns doc_id, tok_idx, vec). The
    * scan is widened BY ARTIFACT SIZE ([[Scaling.widenBySize]]): a
    * corpus-sized artifact that fits few parquet splits would other-
    * wise serve its dot-product joins nearly single-task, while a
    * serving-sized artifact keeps its natural width (no fan-out tax);
    * at 100M tokens the artifact spans thousands of row groups and
    * this is a no-op. Filters still push below the added exchange
    * (PushDownPredicates handles Repartition), so the In(doc_id,…)
    * stage-2 row-group prune on the doc-clustered layout is
    * unaffected. */
  def loadTokens(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame =
    Scaling.widenBySize(spark.read.parquet(s"$dir/tokens"),
      Scaling.pathBytes(spark, s"$dir/tokens"))

  /** Quantized per-pair similarity: floor(⟨a,b⟩ · 1e6 + 0.5) as BIGINT. */
  private def simQ(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
    floor(dot(a, b) * lit(1000000.0d) + lit(0.5d)).cast("long")

  /** The max-then-sum reduction over a scored (qid, doc_id, qtok, s_q)
    * pair frame, ranked top-`k` per query. Shared by both faces. */
  private def reduceAndRank(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_q").desc, col("doc_id").asc)
    pairs
      .groupBy(col("qid"), col("doc_id"), col("qtok"))
      .agg(max(col("s_q")).as("m_q"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("m_q")).as("score_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("score_q"), col("rank"))
  }

  /** Exhaustive MaxSim top-`k`: every query token against every corpus
    * token. Output (qid, doc_id, score_q, rank), rank 1 = best, ties
    * by doc_id ascending. Token frames carry (id, tok_idx, vec); a
    * repeated query token contributes once PER OCCURRENCE (each
    * tok_idx carries its own max — the paper's Σ runs over token
    * positions). The oracle face — [[maxSimShortlisted]] serves. */
  def maxSim(qToks: DataFrame, qIdCol: String, qTokIdxCol: String,
             qVecCol: String,
             dToks: DataFrame, dIdCol: String, dVecCol: String,
             k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val q = broadcast(qToks.select(col(qIdCol).cast("long").as("qid"),
      col(qTokIdxCol).cast("long").as("qtok"),
      col(qVecCol).cast("array<double>").as("qvec")))
    val d = dToks.select(col(dIdCol).cast("long").as("doc_id"),
      col(dVecCol).cast("array<double>").as("dvec"))
    reduceAndRank(
      d.join(q).select(col("qid"), col("doc_id"), col("qtok"),
        simQ(col("dvec"), col("qvec")).as("s_q")), k)
  }

  /** Shortlisted MaxSim: stage 1 keeps each query token's top-`m`
    * corpus tokens by dot (TopKAggExpr partial heaps — only
    * (q-tokens × m) ids cross the shuffle), the union of their doc
    * ids per query is the candidate set; stage 2 scores ONLY candidate
    * docs exactly (broadcast candidate+query side, corpus-token scan
    * pruned at the join). Approximate exactly like every shortlist
    * tier: a doc outside all per-token top-m lists is unseen; `m` is
    * the recall lever, and m ≥ the corpus token count reproduces
    * [[maxSim]] bit-for-bit. `cap` < Int.MaxValue adds the PLAID
    * candidate prune ([[pruneByApprox]]) over the heap's own exact
    * dots — stage 2 bounded by cap instead of q-tokens × m. `qChunk`
    * bounds the stage-2 probe broadcast per [[rescoreCandidates]]'s
    * contract (results are chunking-invariant — spec gate). */
  def maxSimShortlisted(qToks: DataFrame, qIdCol: String, qTokIdxCol: String,
                        qVecCol: String,
                        dToks: DataFrame, dIdCol: String, dVecCol: String,
                        k: Int, m: Int,
                        cap: Int = Int.MaxValue,
                        qChunk: Int = 1024): DataFrame = {
    require(k >= 1 && m >= 1 && cap >= 1 && qChunk >= 1,
      s"k=$k m=$m cap=$cap qChunk=$qChunk must be >= 1")
    val q = broadcast(qToks.select(col(qIdCol).cast("long").as("qid"),
      col(qTokIdxCol).cast("long").as("qtok"),
      col(qVecCol).cast("array<double>").as("qvec")))
    val d = dToks.select(col(dIdCol).cast("long").as("doc_id"),
      col(dVecCol).cast("array<double>").as("dvec"))
    // per-(qid, qtok) top-m doc tokens by LARGEST dot = smallest −dot
    // (the MIPS reduction); duplicate doc_ids inside one heap are fine
    // — the shortlist is only a candidate-doc generator
    val hits = d.join(q)
      .select(col("qid"), col("qtok"),
        (lit(0.0d) - dot(col("dvec"), col("qvec"))).as("negdot"),
        col("doc_id"))
      .groupBy(col("qid"), col("qtok"))
      .agg(graft.functions.TopK.topK(col("negdot"), col("doc_id"), m).as("nn"))
    val cand =
      if (cap == Int.MaxValue)
        hits.select(col("qid"), explode(col("nn.id")).as("doc_id"))
          .distinct()
      else
        // the heap rows carry the EXACT dots (negated) — no recovery
        // step; prune straight from them
        pruneByApprox(
          hits.select(col("qid"), col("qtok"), explode(col("nn")).as("nn"))
            .select(col("qid"), col("qtok"), col("nn.id").as("doc_id"),
              (lit(0.0d) - col("nn.distance")).as("dot_a")),
          cap)
    rescoreCandidates(cand, q, d, k, qChunk)
  }

  /** Stage 2 shared by every shortlisting face: score ONLY the
    * (qid, doc_id) candidate pairs exactly — broadcast candidate+query
    * probe, the corpus-token scan pruned at the doc_id equi-join (the
    * BQ broadcast-shortlist re-rank shape). `q` carries (qid, qtok,
    * qvec), `d` carries (doc_id, dvec); output = [[reduceAndRank]].
    *
    * Broadcast-size contract, now ENFORCED rather than documented:
    * the probe is candidates × q-tokens rows — bounded by the serving
    * parameters per query, but LINEAR in the query-batch size, so the
    * batch is processed in groups of ≤ `qChunk` queries (the
    * IVFPQ.searchMany qChunk discipline): per-chunk probe volume is
    * ≤ qChunk × qTokens × min(cap, qTokens × m) rows no matter how
    * large the online batch, and qid groups partition the batch, so
    * per-chunk top-k ranks are final and chunk results simply union.
    * A 10k-query batch now costs ⌈10k/qChunk⌉ pruned scans instead of
    * one driver-memory failure. m stays the recall lever: size it
    * tens-to-hundreds in production; the m ≥ corpus-tokens
    * configuration exists only for the oracle-convergence gates.
    *
    * Candidate scan pruning (the phraseSearchIndexed In-pushdown,
    * re-applied to the token frame): each chunk's distinct doc ids are
    * serving-sized, so they collect, and Spark pushes the literal
    * In(doc_id, […]) to the parquet reader — on [[saveTokens]]'s
    * doc-clustered layout the stage-2 read is row-group-pruned to THAT
    * CHUNK's candidate docs (chunking tightens the prune: a chunk
    * never reads another chunk's docs). Pure pruning: the equi-join
    * below enforces the same equality, results are identical on any
    * layout. Capped at 10k literals per chunk — wider candidate sets
    * prune through a broadcast semi-join instead (no giant literal in
    * the plan; runtime bloom/DPP can still reach the scan).
    *
    * Residency note: the candidate frame is eagerly localCheckpoint-ed
    * so stage 1 computes exactly once for the qid/doc-id collects AND
    * the probe joins. The checkpoint blocks live in executor storage
    * until the returned DataFrame is GC'd (ContextCleaner), and —
    * being checkpoints — are unrecoverable if an executor is lost
    * mid-query: the deliberate trade is no-double-stage-1 per call
    * over fault-tolerance of an individual serving query (a lost
    * executor fails that query; the caller retries). Long-lived
    * serving sessions should release results promptly (drop the
    * reference after materializing) rather than accumulate them. */
  private def rescoreCandidates(cand0: DataFrame, q: DataFrame,
                                d: DataFrame, k: Int,
                                qChunk: Int = 1024): DataFrame = {
    // ONE serving-sized pass over the query-token frame: per-qid token
    // count + the qvec width (array<double> per [[tokenFaces]] → 2
    // floats per element for the broadcast gate). Replaces the old
    // limit-1 width peek — same width (token frames are fixed-dim by
    // construction; max over qids is never looser than first-row).
    // The stage-1 candidate materialization and the query-side stats
    // pass are independent — overlap them (guide §2.6).
    val (cand, qStats) = graft.index.Overlap.par2(
      cand0.localCheckpoint(true), queryStats(q))
    val qvecFloats = probeRowFloats(qStats)
    val ntByQid = qStats.iterator
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // TWO overlapped passes over the checkpointed candidates (both
    // independent, guide §2.6): per-qid candidate counts give (a) the
    // sorted qid list that decides chunking and (b) with ntByQid, the
    // EXACT row count of each chunk's probe join (inner on qid ⇒
    // Σ |cand_q| × |qtoks_q|) — so the broadcast-budget gate becomes
    // driver arithmetic instead of a per-chunk count job over the join
    // ([[graft.index.Batches.requireScaledRows]]); the distinct doc-id
    // collect feeds the single-chunk scan prune (the common serving
    // shape — multi-chunk batches re-derive ids per chunk as before).
    val (cStats, idsAll) = graft.index.Overlap.par2(
      cand.groupBy(col("qid")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1),
      collectPruneIds(cand))
    val qids = cStats.map(_._1)
    def probeRows(g: Array[(Long, Long)]): Long =
      g.iterator.map { case (qid, c) => c * ntByQid.getOrElse(qid, 0L) }.sum
    if (qids.length <= qChunk)
      rescoreChunk(cand, q, d, k, qvecFloats, probeRows(cStats),
        Some(idsAll))
    else cStats.grouped(qChunk).map { g =>
      val (lo, hi) = (g.head._1, g.last._1)
      rescoreChunk(
        cand.filter(col("qid") >= lo && col("qid") <= hi),
        q.filter(col("qid") >= lo && col("qid") <= hi), d, k, qvecFloats,
        probeRows(g))
    }.reduce(_.unionByName(_))
  }

  /** Per-qid (qid, token count, qvec width) rows of a query-token
    * frame — one serving-sized pass. */
  private[graft] def queryStats(q: DataFrame): Array[Row] =
    q.groupBy(col("qid")).agg(count(lit(1)).as("__nt"),
      first(size(col("qvec"))).as("__w")).collect()

  /** Broadcast floats per probe row: 2 per element of the widest
    * (array<double>) qvec. A malformed saved token frame can carry
    * null qvecs, whose width is null — or -1 under
    * `spark.sql.legacy.sizeOfNull` with ANSI off — so only positive
    * widths count, and a frame without one degrades to the nominal
    * budget row instead of a non-positive budget input. */
  private[graft] def probeRowFloats(qStats: Array[Row]): Long = {
    val widths = qStats.iterator.filterNot(_.isNullAt(2)).map(_.getInt(2))
      .filter(_ > 0)
    if (widths.isEmpty) graft.index.Batches.NominalRowFloats
    else 2L * widths.max
  }

  /** The scan-prune id set of a candidate frame: distinct doc ids up
    * to [[PruneIdLimit]]+1 (the +1 overflow row tells the chunk to
    * fall back to the semi-join prune). */
  private def collectPruneIds(cand: DataFrame): Array[Long] =
    cand.select(col("doc_id")).distinct()
      .limit(PruneIdLimit + 1).collect().map(_.getLong(0))

  private val PruneIdLimit = 10000

  /** One ≤-qChunk-query slice of [[rescoreCandidates]] — the original
    * single-probe shape: collect the slice's candidate doc ids (In
    * pushdown to the token scan, semi-join above 10k), broadcast the
    * slice's candidates × q-tokens probe, reduce and rank. The probe
    * broadcast rides the [[graft.index.Batches.boundedCheckScaled]]
    * gate at its true fan-out (cand × q-tokens rows, each carrying a
    * double qvec): chunking bounds QUERIES per slice, but cap ×
    * q-tokens per query can still overrun the executor budget — fail
    * fast naming the levers instead. The gate costs no job: the probe
    * is an inner join on qid, so its exact row count is caller
    * arithmetic over the per-qid stats already collected for
    * chunking. */
  private def rescoreChunk(cand: DataFrame, q: DataFrame,
                           d: DataFrame, k: Int,
                           qvecFloats: Long,
                           probeRows: Long,
                           preIds: Option[Array[Long]] = None): DataFrame = {
    val ids = preIds.getOrElse(collectPruneIds(cand))
    val pruned =
      if (ids.isEmpty) d
      else if (ids.length <= PruneIdLimit)
        d.filter(col("doc_id").isin(ids.toSeq: _*))
      else d.join(broadcast(cand.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    val probeDf = cand.join(q, Seq("qid"))
    // probeRows is the join's exact row count (caller arithmetic from
    // the per-qid stats) — the scaled budget gate needs no count job
    graft.index.Batches.requireScaledRows(probeDf,
      "MaxSim rescore probe (candidates × query tokens; shrink cap or qChunk)",
      probeRows, qvecFloats)
    val probe = broadcast(probeDf)
    reduceAndRank(
      pruned.join(probe, Seq("doc_id")).select(col("qid"), col("doc_id"),
        col("qtok"), simQ(col("dvec"), col("qvec")).as("s_q")), k)
  }

  // ------------- ANN-backed stage 1 (the 100 TB serving path) -------------

  /** Bits reserved for the token position when packing (doc_id,
    * tok_idx) into ONE long id for the vector tiers: doc_id << 21 |
    * tok_idx. Contract: tok_idx < 2^21 (2M tokens per document —
    * far above any tokenizer's output) and doc_id < 2^42 (4.4T docs).
    * The pack is what lets every single-vector index in the engine
    * serve the multi-vector tier unchanged: a token IS a corpus row. */
  val TokIdxBits = 21

  private def packId(id: Column, tokIdx: Column): Column =
    shiftleft(id.cast("long"), TokIdxBits)
      .bitwiseOR(tokIdx.cast("long"))

  /** The multi-vector ANN tier: an IVF index over the corpus TOKEN
    * embeddings, MIPS-reduced (tokens norm-augmented so squared-L2
    * top-m IS dot-product top-m — [[Mips]], Bachrach et al. 2014).
    * `maxNorm` is the augmentation scalar queries need at serve time,
    * so it persists alongside the IVF artifact. This is ColBERTv2's
    * serving architecture re-expressed on the engine's own tiers: the
    * token index shortlists, the exact token frame rescores. */
  case class TokenIvf(ivf: IVFFlat.Model, maxNorm: Double) {

    /** Persist: the IVF tier's own layout plus a mips sidecar.
      * `boundFmt` 2 marks the bound as PRE-inflated by the (1+1e-7)
      * float-rounding slack (the r14 convention [[add]]'s exact
      * comparison relies on); sidecars without the marker predate it
      * and get the slack applied once at load — see [[loadTokenIvf]]. */
    def save(dir: String): Unit = {
      ivf.save(s"$dir/ivf")
      ParamsIO.write(ivf.indexed.sparkSession, dir,
        s"""{"maxNorm":$maxNorm,"boundFmt":2}""")
    }

    /** Incremental add on the ANN tier (Index::add, base.rs:28, on the
      * multi-vector tier): pack + augment the incoming token frame with
      * THIS index's maxNorm and assign to the frozen centroids — the
      * [[IVFFlat.Model.add]] narrow broadcast-argmin pass; no rebuild,
      * no existing row moves. MIPS contract: the augmentation is only
      * rank-exact while every indexed norm ≤ maxNorm (the √(M²−‖x‖²)
      * coordinate clamps at 0 above it), so an incoming batch whose max
      * norm exceeds the build-time bound is REFUSED — rebuild with a
      * larger bound (or build with `maxNormBound` = the model's known
      * norm ceiling, e.g. 1.0 for L2-normalized ColBERT tokens, and
      * add freely forever). The comparison is EXACT against the
      * stored bound — the (1+1e-7) float-rounding slack that keeps a
      * max-norm batch from spurious refusal lives in the bound itself
      * (baked in at build time by [[Mips.maxNorm]] and the
      * buildTokenIvf maxNormBound path alike), so an admitted batch
      * never clamps the augmentation coordinate.
      *
      * `trustedBound = true` skips the driver-blocking max-norm
      * aggregation — for hot ingest paths (one job per microbatch
      * saved, [[graft.streaming.Streaming.ingestIntoTokenIvf]]) whose
      * batches are CONTRACTUALLY under the bound (e.g. L2-normalized
      * model output under bound 1.0). A violating trusted batch
      * mis-ranks silently at the clamped augmentation coordinate —
      * trust only bounds the embedding model itself guarantees. */
    def add(moreToks: DataFrame, idCol: String, tokIdxCol: String,
            vecCol: String, trustedBound: Boolean = false): TokenIvf = {
      val rows = moreToks.select(
        packId(col(idCol), col(tokIdxCol)).as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      if (!trustedBound) {
        val normRow = rows.agg(
          max(sqrt(dot(col("vec"), col("vec"))))).head()
        if (normRow.isNullAt(0)) return this // empty batch: nothing to add
        val incoming = normRow.getDouble(0)
        require(incoming <= maxNorm,
          s"TokenIvf.add: incoming max token norm $incoming exceeds the " +
            s"index's MIPS bound $maxNorm — rebuild with a larger " +
            "maxNormBound (normalized embeddings: bound 1.0 never trips)")
      }
      copy(ivf = ivf.add(Mips.augmentCorpus(rows, "vec", maxNorm),
        "id", "vec"))
    }

    /** Takedown on the ANN tier: drop every token row whose PACKED id
      * unpacks to a removed doc_id — one broadcast anti-join on the
      * unpacked prefix (the ids frame is takedown-sized). Mirrors
      * [[IVFFlat.Model.remove]] (frozen centroids and sizes) but
      * matches on the doc half of the packed id, so a whole document's
      * tokens leave in one pass. Frozen-size caveat: after a removal
      * the stale sizes OVERestimate cell populations, so the adaptive
      * probe set reaches its cumulative-k coverage sooner and probes
      * FEWER cells — a recall-direction drift (the opposite of add's,
      * where undercounts widen probes). Serve with an explicit
      * `nprobe` (as [[maxSimIvf]] does) or rebalance after large
      * takedowns. Lineage compacts on the shared cadence. */
    def remove(ids: DataFrame, idCol: String): TokenIvf = {
      val del = ids.select(col(idCol).cast("long").as("_did"))
      val (df, n) = graft.index.Lineage.compact(
        ivf.indexed.join(broadcast(del),
          shiftright(col("id"), TokIdxBits) === col("_did"), "left_anti"),
        ivf.addsSinceCompact)
      copy(ivf = ivf.copy(indexed = df, addsSinceCompact = n))
    }

    /** Post-takedown probe repair — the remedy [[remove]]'s own doc
      * prescribes, reachable ON the tier: re-run Lloyd's update→assign
      * `iterations` times over the REMAINING augmented token rows and
      * recount cell sizes ([[graft.index.IVFFlat.Model.rebalance]]
      * verbatim; the MIPS bound is untouched — rebalancing moves
      * centroids, never norms, and every surviving row was augmented
      * under the stored bound). Adaptive probing then sees true cell
      * populations again instead of the frozen OVERestimates a large
      * takedown leaves. The [[TokenPq]] tier has no such face: lossy
      * codes cannot re-encode under moved centroids — rebalance the
      * float tier and [[compressPq]] again (the merge routing, same
      * reason). */
    def rebalance(iterations: Int = 1): TokenIvf =
      copy(ivf = ivf.rebalance(iterations))

    /** Hot-cell splitting on the token tier ([[graft.index.IVFFlat
      * .Model.splitCells]]): real token distributions are Zipfian, and
      * a head-mode coarse cell makes every probe that reaches it scan
      * 10–100× the mean cell — splitting it geometrically into
      * sub-cells restores probed-volume ∝ nprobe. MIPS bound untouched
      * (splitting re-clusters rows; augmented coordinates never
      * change), so serving needs no re-augmentation — same contract as
      * [[rebalance]]. The [[TokenPq]] tier routes through the float
      * tier for the same reason rebalance does: residual codes cannot
      * re-encode under moved centroids — split here, then
      * [[compressPq]] again. */
    def splitHotCells(maxCellFactor: Double = 2.0,
                      iterations: Int = 4): TokenIvf =
      copy(ivf = ivf.splitCells(maxCellFactor, iterations))

    /** Shard-merge for the multi-vector ANN tier — the lifecycle face
      * a distributed token-index build lands on (build per corpus
      * shard, merge the shards; every other tier already has it).
      * Caller contract: the two tiers index DOC-DISJOINT token frames
      * (packed ids are then disjoint by construction).
      *
      * MIPS bound reconciliation: augmented coordinates are only
      * rank-exact when every indexed row was augmented under the SAME
      * scalar the serve-time queries use, so when the bounds differ
      * the LARGER-bound model survives (grid, bound) and the smaller
      * side's rows are RE-AUGMENTED under it — strip the augmentation
      * coordinate (the appended last element), re-append √(M²−‖x‖²)
      * at the surviving M, and run the frozen-centroid assign pass
      * ([[IVFFlat.Model.add]]; cluster sizes stay frozen — undercounts
      * only widen adaptive probes, and [[maxSimIvf]] serves with an
      * explicit nprobe anyway). Equal bounds take
      * [[IVFFlat.Model.merge]] whole: a bitwise-shared grid unions
      * rows with no job at all; different grids re-assign the other
      * side under the surviving centroids. Degenerate-exact gate:
      * probe-all + m ≥ corpus tokens over the merged tier ≡ one build
      * over the union (maxsim_ivf_merge lane; differing-bound spec). */
    def merge(other: TokenIvf): TokenIvf = {
      require(other.ivf.centroids(0).length == ivf.centroids(0).length,
        s"TokenIvf.merge: augmented dim mismatch " +
          s"(${ivf.centroids(0).length} vs ${other.ivf.centroids(0).length})")
      if (other.maxNorm == maxNorm) copy(ivf = ivf.merge(other.ivf))
      else if (other.maxNorm < maxNorm) {
        val dim = ivf.centroids(0).length - 1
        val stripped = other.ivf.indexed.select(col("id"),
          slice(col("vector"), 1, dim).as("vector"))
        copy(ivf = ivf.add(
          Mips.augmentCorpus(stripped, "vector", maxNorm), "id", "vector"))
      } else other.merge(this)
    }

    /** Pre-pay serving residency on the float tier
      * ([[graft.index.Residency.warm]]): persist-if-needed + touch every
      * indexed block, so the first query after a load (or after a big
      * same-JVM scan spilled blocks to disk) serves at steady state —
      * the engine face for the r14 smoke's measurement-order finding.
      * Token tiers serve batches only, so no single-search serving copy
      * is packed ([[graft.index.IVFFlat.Model.warm]] would add one). */
    def warm(): TokenIvf = { graft.index.Residency.warm(ivf.indexed); this }

    /** Release the float tier's storage ([[graft.index.Residency.cool]]
      * — cache-backed frames recompute on next use; checkpoint-backed
      * ones are dead after cooling: reload to serve again). */
    def cool(): Unit = ivf.cool()

    /** SQ8-compress the token tier: the codes frame drops to one byte
      * per dimension (~3.5× residency at serve — ColBERTv2's residual
      * compression motivation), searches run over dequantized codes.
      * Shortlist-only lossiness: stage 2 always rescores on the exact
      * token frame.
      *
      * The code table is materialized EAGERLY into executor storage
      * (persist + touch — the lean-residency discipline the 100M smokes
      * proved out): codes compute exactly once here, never lazily
      * per-serve, and the float tier can be [[cool]]ed right after —
      * at 100M tokens the float checkpoint is ~4× the byte codes and
      * keeping it resident under compressed serving is exactly the
      * block-eviction wall the r14 investigation isolated. */
    def compress(): TokenSq8 = {
      val m = SQ8.compress(ivf)
      graft.index.Residency.warm(m.codes)
      TokenSq8(m, maxNorm)
    }

    /** Residual-PQ-compress the token tier — the deployed late-
      * interaction storage answer (ColBERTv2/PLAID residual codes,
      * Santhanam et al. 2022 §3, public): each augmented token row
      * recenters on its IVF cell centroid and product-quantizes the
      * RESIDUAL to `pqParams.m` one-byte codes — m bytes/token vs
      * 4 bytes/dim float (~17× at the engine's dim-16+aug tokens with
      * m=4) where SQ8 stops at ~3.5×; at 100 TB of token embeddings
      * that is the single biggest storage line of the serving stack.
      * Stage 1 then probes residual-ADC codes ([[IVFPQ.Model
      * .searchMany]] — per-(query, cell) LUTs, qChunk-bounded task
      * memory); stage 2 is unchanged — exact over the full-precision
      * token frame, so quantization can only cost recall, never
      * mis-score a candidate (the [[compress]] contract at 4–8×
      * deeper compression).
      *
      * The coarse grid and cell sizes are THIS tier's own (one
      * maintenance cadence for cells, another for codebooks — the
      * [[IVFPQ.trainWithCoarse]] composition). `codebookTrainFraction`
      * < 1 samples the Lloyd's codebook training rows (the
      * buildTokenIvf trainFraction discipline: codebook quality
      * converges at sample sizes ≪ corpus; every token still ENCODES
      * in the one narrow fused pass).
      *
      * Subspace padding: PQ needs m | dim, but the MIPS augmentation
      * makes the stored dim (token dim + 1) — often PRIME (17 at the
      * engine's dim-16 tokens, 129 at ColBERT's 128), which would
      * force m = dim (byte-per-coordinate — ZERO storage win over
      * SQ8). So the frame zero-pads up to the next multiple of m
      * before training/encoding, and [[maxSimPq]] pads queries the
      * same way. Exact by construction: every row is 0 on the padded
      * coordinates, so coarse assignment distances, residuals, and
      * the trained sub-centroids there are identically 0 and the ADC
      * contribution of padded dims is 0 for any query padded with 0.
      * m is then a free storage lever: m=4 at dim-16 tokens stores
      * 4 B/token — 17× under float, 4.3× under the SQ8 tier. */
    def compressPq(pqParams: graft.index.PQ.Params,
                   residual: Boolean = true,
                   codebookTrainFraction: Double = 1.0): TokenPq = {
      require(codebookTrainFraction > 0.0 && codebookTrainFraction <= 1.0,
        s"codebookTrainFraction=$codebookTrainFraction out of (0,1]")
      val rawDim = ivf.centroids(0).length
      val m = pqParams.m
      val pad = ((rawDim + m - 1) / m) * m
      val padded =
        if (pad == rawDim) ivf
        else ivf.copy(
          centroids = ivf.centroids.map(c =>
            c ++ Array.fill(pad - rawDim)(0f)),
          indexed = ivf.indexed.withColumn("vector",
            concat(col("vector").cast("array<float>"),
              array(Seq.fill(pad - rawDim)(lit(0f)): _*))))
      val trainModel =
        if (codebookTrainFraction >= 1.0) padded
        else padded.copy(indexed = padded.indexed.sample(
          withReplacement = false, codebookTrainFraction, pqParams.seed))
      TokenPq(graft.index.IVFPQ.trainWithCoarse(padded.indexed, "id",
        "vector", trainModel, pqParams, residual), maxNorm)
    }
  }

  /** [[TokenIvf]]'s reload face. */
  def loadTokenIvf(spark: SparkSession, dir: String): TokenIvf =
    TokenIvf(IVFFlat.load(spark, s"$dir/ivf"),
      loadBound(ParamsIO.read(spark, dir)))

  /** Shared sidecar-bound reader: sidecars with `boundFmt` ≥ 2 store
    * the bound PRE-inflated by the (1+1e-7) float-rounding slack
    * ([[TokenIvf.save]]); legacy sidecars (explicit-`maxNormBound`
    * builds saved pre-r14) stored it UNinflated, and the adds' exact
    * `incoming <= maxNorm` comparison would then spuriously refuse a
    * legitimate max-norm batch by one ulp of float-cast rounding — so
    * the slack is applied ONCE here on load. Serving is unaffected:
    * the bound enters score recovery as a per-query constant
    * (stageOneCandidates), so a 1e-7 relative shift never reorders
    * candidates, and augmentation of post-load adds differs from the
    * resident rows by the same 1e-7 the build-time slack already
    * accepts. */
  private def loadBound(json: String): Double = {
    val m = ParamsIO.dbl(json, "maxNorm", 0.0)
    if (ParamsIO.dbl(json, "boundFmt", 1.0) >= 2.0) m
    else m * (1.0 + 1e-7)
  }

  /** SQ8-compressed twin of [[TokenIvf]] — same probe semantics over
    * byte codes. */
  case class TokenSq8(sq8: SQ8.Model, maxNorm: Double) {
    /** Residency verbs on the code table — see [[TokenIvf.warm]]. */
    def warm(): TokenSq8 = { sq8.warm(); this }
    def cool(): Unit = sq8.cool()
  }

  /** Residual-PQ-compressed twin of [[TokenIvf]]
    * ([[TokenIvf.compressPq]]) — stage 1 probes m-byte residual codes.
    * Persists as the IVFPQ tier's own layout (cluster-partitioned
    * codes → partition pruning on probe) plus the mips sidecar.
    *
    * Lifecycle: [[add]] encodes arriving token batches against the
    * FROZEN coarse grid + codebooks (the IVFPQ.add fused pass —
    * quantization quality for new rows is the frozen codebooks'; a
    * drifted corpus re-trains on the codebook cadence), [[remove]]
    * drops whole documents by the packed-id prefix. Shard-MERGE for
    * this tier deliberately goes through the float tier: merge the
    * shards' [[TokenIvf]]s (which reconciles MIPS bounds by
    * re-augmenting — impossible on lossy codes) and [[TokenIvf
    * .compressPq]] the merged tier; two TokenPq artifacts with
    * different bounds or grids cannot be merged code-wise. REBALANCE
    * routes the same way ([[TokenIvf.rebalance]] on the float tier,
    * then re-[[TokenIvf.compressPq]]): moved centroids change every
    * residual, and lossy codes cannot re-encode themselves. */
  case class TokenPq(pq: graft.index.IVFPQ.Model, maxNorm: Double) {
    /** Residency verbs on the residual-code table — see
      * [[TokenIvf.warm]]. */
    def warm(): TokenPq = { pq.warm(); this }
    def cool(): Unit = pq.cool()

    def save(dir: String): Unit = {
      pq.save(s"$dir/ivfpq")
      ParamsIO.write(pq.codes.sparkSession, dir,
        s"""{"maxNorm":$maxNorm,"boundFmt":2}""")
    }

    /** Zero-pad an augmented float-vec column to the tier's stored
      * (possibly padded) dim — the [[TokenIvf.compressPq]] padding
      * contract, applied to arriving rows. An OVER-long row fails
      * loudly here (raise_error) instead of padding by a negative
      * count to an unchanged vector that IVFPQ.build would then
      * silently prefix-encode into wrong codes — the add path gets
      * the same wrong-dim protection searchMany's require gives
      * queries. */
    private def padTo(dfv: DataFrame, vecCol: String): DataFrame =
      dfv.withColumn(vecCol,
        when(size(col(vecCol)) <= lit(pq.dim),
          concat(col(vecCol), array_repeat(lit(0f),
            (lit(pq.dim) - size(col(vecCol))).cast("int"))))
        .otherwise(raise_error(concat_ws(" ",
          lit("TokenPq.add: augmented token dim"), size(col(vecCol)),
          lit(s"exceeds the tier's stored dim ${pq.dim} — " +
            "wrong-dim add refused")))))

    /** Incremental add on the PQ tier (Index::add, base.rs:28):
      * pack + bound-check + augment + pad the incoming token frame,
      * then [[graft.index.IVFPQ.Model.add]]'s fused frozen-parts
      * assign+encode pass. Same MIPS bound contract (and
      * `trustedBound` hot-ingest lever) as [[TokenIvf.add]]. */
    def add(moreToks: DataFrame, idCol: String, tokIdxCol: String,
            vecCol: String, trustedBound: Boolean = false): TokenPq = {
      val rows = moreToks.select(
        packId(col(idCol), col(tokIdxCol)).as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      if (!trustedBound) {
        val normRow = rows.agg(
          max(sqrt(dot(col("vec"), col("vec"))))).head()
        if (normRow.isNullAt(0)) return this // empty batch
        val incoming = normRow.getDouble(0)
        require(incoming <= maxNorm,
          s"TokenPq.add: incoming max token norm $incoming exceeds the " +
            s"index's MIPS bound $maxNorm — rebuild with a larger " +
            "maxNormBound (normalized embeddings: bound 1.0 never trips)")
      }
      copy(pq = pq.add(
        padTo(Mips.augmentCorpus(rows, "vec", maxNorm), "vec"),
        "id", "vec"))
    }

    /** Takedown on the PQ tier: drop every code row whose PACKED id
      * unpacks to a removed doc_id — [[TokenIvf.remove]]'s broadcast
      * anti-join on the unpacked prefix, over the codes frame. Frozen
      * sizes narrow adaptive probing post-remove (the IVFFlat.remove
      * caveat); [[maxSimPq]] serves with an explicit nprobe. */
    def remove(ids: DataFrame, idCol: String): TokenPq = {
      val del = ids.select(col(idCol).cast("long").as("_did"))
      val (df, n) = graft.index.Lineage.compact(
        pq.codes.join(broadcast(del),
          shiftright(col("id"), TokIdxBits) === col("_did"), "left_anti"),
        pq.addsSinceCompact)
      copy(pq = pq.copy(codes = df, addsSinceCompact = n))
    }
  }

  /** [[TokenPq]]'s reload face. */
  def loadTokenPq(spark: SparkSession, dir: String): TokenPq =
    TokenPq(graft.index.IVFPQ.load(spark, s"$dir/ivfpq"),
      loadBound(ParamsIO.read(spark, dir)))

  /** Build the token-level IVF MIPS tier over a (doc_id, tok_idx, vec)
    * frame: pack ids, norm-augment once (one tiny max-norm agg + one
    * narrow map), k-means the augmented tokens. The returned model's
    * `indexed` frame is cluster-assigned and cached by
    * [[IVFFlat.build]] — call `.ivf.indexed.unpersist()` (or [[
    * TokenIvf.save]] + reload) when done building.
    *
    * `trainFraction` < 1 is the corpus-scale build: k-means trains on
    * a seeded sample (k-means cost is iterations × corpus scans —
    * the one part of the build that must not see all 10^10 tokens;
    * centroid QUALITY converges at sample sizes ~1000× k, the HNSW
    * router's sample-train recipe), then every token assigns to the
    * trained centroids in ONE narrow pass. Recall is unaffected by
    * where centroids came from — probing semantics only read the
    * assignment — so the sampled build trades nothing but cell-shape
    * optimality.
    *
    * `maxNormBound` > 0 fixes the MIPS augmentation scalar instead of
    * deriving it from the frame — pass the model's known norm ceiling
    * (1.0 for L2-normalized ColBERT tokens) so [[TokenIvf.add]] can
    * ingest future batches without ever tripping the bound. */
  def buildTokenIvf(dToks: DataFrame, dIdCol: String, tokIdxCol: String,
                    vecCol: String, params: IVFFlat.Params,
                    trainFraction: Double = 1.0,
                    maxNormBound: Double = 0.0): TokenIvf = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction=$trainFraction out of (0,1]")
    val rows = dToks.select(
      packId(col(dIdCol), col(tokIdxCol)).as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val m = if (maxNormBound > 0.0) {
      // Store the bound PRE-inflated by the (1+1e-7) float slack — the
      // Mips.maxNorm discipline. Norms here are computed over
      // FLOAT-cast vectors, so a max-norm frame whose bound the caller
      // computed in double can exceed it by one ulp of cast rounding;
      // baking the slack into the STORED bound keeps the sqrt argument
      // non-negative for such rows AND lets every later guard
      // ([[TokenIvf.add]], [[TokenPq.add]]) compare EXACTLY against
      // maxNorm instead of each loosening its own comparison.
      val inflated = maxNormBound * (1.0 + 1e-7)
      val actual = rows.agg(
        max(sqrt(dot(col("vec"), col("vec"))))).head().getDouble(0)
      require(actual <= inflated,
        s"buildTokenIvf: frame max token norm $actual exceeds " +
          s"maxNormBound=$maxNormBound — the augmentation would clamp " +
          "and mis-rank; raise the bound")
      inflated
    } else Mips.maxNorm(rows, "vec")
    val aug = Mips.augmentCorpus(rows, "vec", m)
    if (trainFraction >= 1.0)
      TokenIvf(IVFFlat.build(aug, "id", "vec", params), m)
    else {
      val trained = IVFFlat.build(
        aug.sample(withReplacement = false, trainFraction, params.seed),
        "id", "vec", params)
      trained.indexed.unpersist()
      val indexed = IVFFlat.assign(aug, "id", "vec", trained.centroids)
        .cache()
      val sizes = new Array[Long](params.k)
      indexed.groupBy("cluster").count().collect()
        .foreach(r => sizes(r.getInt(0)) = r.getLong(1))
      TokenIvf(IVFFlat.Model(params, trained.centroids, sizes, indexed), m)
    }
  }

  /** MaxSim with the stage-1 shortlist served by the token IVF tier:
    * each query token becomes ONE index query (packed qid‖qtok,
    * norm-augmented), `searchMany` returns its top-`m` corpus tokens
    * from the `nprobe` probed cells only — the per-batch full
    * corpus-token scan of [[maxSimShortlisted]] is gone; stage-1 cost
    * is the probed fraction of the token frame, not all of it. The
    * union of shortlisted tokens' doc ids per query is the candidate
    * set; stage 2 rescores exactly on the unquantized token frame.
    * Recall levers: `m` (docs seen per query token) and `nprobe`
    * (cells scanned per query token). `cap` < Int.MaxValue adds the
    * PLAID candidate-pruning stage ([[prunedCandidatesOf]]): only the
    * top-`cap` docs per query by the approximate stage-1 score reach
    * the exact rescore — bounds stage 2 by cap instead of q-tokens ×
    * m, the high-m serving wall. nprobe ≥ the cell count AND
    * m ≥ the corpus token count (AND cap ≥ the doc count if finite)
    * reproduces [[maxSim]] bit-for-bit — candidates then cover every
    * doc, and stage 2 IS the exhaustive face (the sq8_search_all
    * probe-all idiom; maxsim_ivf / maxsim_pruned lanes). */
  def maxSimIvf(qToks: DataFrame, qIdCol: String, qTokIdxCol: String,
                qVecCol: String,
                dToks: DataFrame, dIdCol: String, dVecCol: String,
                index: TokenIvf, k: Int, m: Int, nprobe: Int,
                cap: Int = Int.MaxValue,
                qChunk: Int = 1024): DataFrame = {
    require(k >= 1 && m >= 1 && nprobe >= 1 && cap >= 1 && qChunk >= 1,
      s"k=$k m=$m nprobe=$nprobe cap=$cap qChunk=$qChunk must be >= 1")
    val (q, d) = tokenFaces(qToks, qIdCol, qTokIdxCol, qVecCol,
      dToks, dIdCol, dVecCol)
    val hits = index.ivf.searchMany(
      augmentedQueryTokens(q, index.maxNorm), "qid2", "qvec2", m, nprobe)
    rescoreCandidates(stageOneCandidates(hits, q, index.maxNorm, cap),
      q, d, k, qChunk)
  }

  /** [[maxSimIvf]] over the SQ8-compressed token tier: stage 1 probes
    * byte codes (≈¼ the scan residency), stage 2 is unchanged — exact
    * over the full-precision token frame, so quantization error can
    * only cost recall, never mis-score a candidate. Same degenerate
    * convergence: probe-all + m ≥ corpus tokens ⇒ every doc is a
    * candidate ⇒ ≡ [[maxSim]] (maxsim_sq8 lane). `cap` as on
    * [[maxSimIvf]] — the PLAID prune runs on dots recovered from
    * dequantized distances (pruning rank only; stage 2 stays exact). */
  def maxSimSq8(qToks: DataFrame, qIdCol: String, qTokIdxCol: String,
                qVecCol: String,
                dToks: DataFrame, dIdCol: String, dVecCol: String,
                index: TokenSq8, k: Int, m: Int, nprobe: Int,
                cap: Int = Int.MaxValue,
                qChunk: Int = 1024): DataFrame = {
    require(k >= 1 && m >= 1 && nprobe >= 1 && cap >= 1 && qChunk >= 1,
      s"k=$k m=$m nprobe=$nprobe cap=$cap qChunk=$qChunk must be >= 1")
    val (q, d) = tokenFaces(qToks, qIdCol, qTokIdxCol, qVecCol,
      dToks, dIdCol, dVecCol)
    val hits = index.sq8.searchMany(
      augmentedQueryTokens(q, index.maxNorm), "qid2", "qvec2", m, nprobe)
    rescoreCandidates(stageOneCandidates(hits, q, index.maxNorm, cap),
      q, d, k, qChunk)
  }

  /** [[maxSimIvf]] over the residual-PQ token tier ([[TokenIvf
    * .compressPq]]): stage 1 probes m-byte residual-ADC codes (~17×
    * below float residency at m=4 on dim-16+aug tokens — the
    * ColBERTv2 storage line), stage 2 is unchanged — exact over the
    * full-precision token frame, so ADC error can only cost recall,
    * never mis-score a candidate. Same degenerate convergence as the
    * other probed faces: probe-all + m ≥ corpus tokens keeps every
    * probed token in every heap REGARDLESS of ADC ordering, so every
    * doc is a candidate and stage 2 IS the exhaustive face
    * (maxsim_pq lane, spec gate). `cap` as on [[maxSimIvf]]: the
    * PLAID prune ranks on dots recovered from ADC distances — doubly
    * approximate (shortlist + quantization), still only a pruning
    * rank; stage 2 stays exact. Stage 1 is one probe-frame scan of
    * the m-byte codes through the fused [[graft.functions.PqAdcExpr]]
    * kernel — no LUTs, no per-batch re-scans (the IVFPQ.searchMany
    * serving shape). */
  def maxSimPq(qToks: DataFrame, qIdCol: String, qTokIdxCol: String,
               qVecCol: String,
               dToks: DataFrame, dIdCol: String, dVecCol: String,
               index: TokenPq, k: Int, m: Int, nprobe: Int,
               cap: Int = Int.MaxValue,
               qChunk: Int = 1024): DataFrame = {
    require(k >= 1 && m >= 1 && nprobe >= 1 && cap >= 1 && qChunk >= 1,
      s"k=$k m=$m nprobe=$nprobe cap=$cap qChunk=$qChunk must be >= 1")
    val (q, d) = tokenFaces(qToks, qIdCol, qTokIdxCol, qVecCol,
      dToks, dIdCol, dVecCol)
    // zero-pad augmented queries to the tier's (possibly padded)
    // stored dim — exact, see compressPq's padding contract
    val aq = augmentedQueryTokens(q, index.maxNorm)
      .withColumn("qvec2", concat(col("qvec2"),
        array_repeat(lit(0f),
          (lit(index.pq.dim) - size(col("qvec2"))).cast("int"))))
    val hits = index.pq.searchMany(aq, "qid2", "qvec2", m, nprobe)
    rescoreCandidates(stageOneCandidates(hits, q, index.maxNorm, cap),
      q, d, k, qChunk)
  }

  /** Canonicalized (q, d) faces shared by the ANN stage-1 paths. */
  private def tokenFaces(qToks: DataFrame, qIdCol: String,
                         qTokIdxCol: String, qVecCol: String,
                         dToks: DataFrame, dIdCol: String, dVecCol: String)
  : (DataFrame, DataFrame) = (
    qToks.select(col(qIdCol).cast("long").as("qid"),
      col(qTokIdxCol).cast("long").as("qtok"),
      col(qVecCol).cast("array<double>").as("qvec")),
    dToks.select(col(dIdCol).cast("long").as("doc_id"),
      col(dVecCol).cast("array<double>").as("dvec")))

  /** Query tokens as index queries: packed id, float vec, zero-
    * augmented ([[Mips.augmentQueries]] — queries never need the norm
    * coordinate). */
  private def augmentedQueryTokens(q: DataFrame, maxNorm: Double)
  : DataFrame = {
    require(maxNorm > 0.0,
      s"maxNorm=$maxNorm — build/load the token tier before serving")
    Mips.augmentQueries(
      q.select(packId(col("qid"), col("qtok")).as("qid2"),
        col("qvec").cast("array<float>").as("qvec2")), "qvec2")
  }

  /** Unpack an index hit frame (qid, id, distance) — both ids packed
    * — into the distinct (true-qid, doc_id) candidate set. */
  private def candidatesOf(hits: DataFrame): DataFrame =
    hits.select(shiftright(col("qid"), TokIdxBits).as("qid"),
        shiftright(col("id"), TokIdxBits).as("doc_id"))
      .distinct()

  /** PLAID-style candidate pruning (Santhanam et al. 2022, public —
    * "PLAID: An Efficient Engine for Late Interaction Retrieval"):
    * stage 1's probed hits already carry MIPS distances, and the dot
    * is exactly recoverable per hit under the XBOX augmentation
    * (d² = ‖q‖² + M² − 2⟨q,t⟩ ⇒ ⟨q,t⟩ = (‖q‖² + M² − d²)/2), so an
    * APPROXIMATE MaxSim score per candidate doc — Σ over q-tokens of
    * (max over that token's shortlisted hits of the recovered dot),
    * unseen (q-token, doc) pairs contributing 0, PLAID's convention —
    * costs two serving-sized aggregations and touches NO corpus data.
    * Keeping only the top-`cap` docs per query (ties broken doc_id
    * ascending — deterministic) bounds stage 2's exact-rescore volume
    * by `cap` instead of q-tokens × m: at high m the shortlist union
    * is the stage-2 bill (BASELINE r12: m=4096 at 100M tokens is
    * stage-2-bound), and the approximate scores already rank the
    * union well enough that a cap of a few × k keeps recall.
    * Approximation surface: a true top-k doc whose approximate score
    * underestimates (its best tokens unseen by stage 1) can fall
    * outside the cap — cap is a recall lever exactly like m and
    * nprobe; cap ≥ the candidate count keeps everything (spec gate:
    * then ≡ the unpruned face). Over the SQ8 tier the recovered dots
    * carry quantization error — still only a pruning rank. */
  private def prunedCandidatesOf(hits: DataFrame, q: DataFrame,
                                 maxNorm: Double, cap: Int): DataFrame = {
    val qn = q.select(col("qid"), col("qtok"),
      dot(col("qvec"), col("qvec")).as("qn2"))
    pruneByApprox(
      hits.select(
          shiftright(col("qid"), TokIdxBits).as("qid"),
          col("qid").bitwiseAND(lit((1L << TokIdxBits) - 1)).as("qtok"),
          shiftright(col("id"), TokIdxBits).as("doc_id"),
          col("distance"))
        .join(broadcast(qn), Seq("qid", "qtok"))
        .select(col("qid"), col("qtok"), col("doc_id"),
          ((col("qn2") + lit(maxNorm * maxNorm) - col("distance")) / 2.0d)
            .as("dot_a")),
      cap)
  }

  /** The Σ-max rank-and-cut shared by every pruning face: from a
    * scored (qid, qtok, doc_id, dot_a) hit frame, approximate each
    * doc's MaxSim as Σ over q-tokens of (max over its hits of dot_a)
    * — unseen tokens contribute 0 — and keep the top-`cap` docs per
    * query (ties doc_id ascending). Serving-sized aggregations only. */
  private def pruneByApprox(scored: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx").desc, col("doc_id").asc)
    // Missing (q-token, doc) pairs contribute 0 — measured decision,
    // not an oversight: the admissible-upper-bound alternative
    // (missing pairs get their q-token's heap floor, rank by
    // Σ_present (max − floor)) was A/B'd at 100M tokens and LOST,
    // recall@1 0.760 vs 0.840 at the same m/nprobe/cap — on crowded
    // heaps the floor equals the tie value, erasing exactly the
    // presence evidence that separates true matches (BASELINE r12).
    scored
      .groupBy(col("qid"), col("doc_id"), col("qtok"))
      .agg(max(col("dot_a")).as("m_a"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("m_a")).as("approx"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("qid"), col("doc_id"))
  }

  /** Candidate set for an ANN stage-1 hit frame: the full distinct
    * doc union when `cap` is unbounded, the PLAID-pruned top-`cap`
    * otherwise. */
  private def stageOneCandidates(hits: DataFrame, q: DataFrame,
                                 maxNorm: Double, cap: Int): DataFrame =
    if (cap == Int.MaxValue) candidatesOf(hits)
    else prunedCandidatesOf(hits, q, maxNorm, cap)

  // ------------------------- lifecycle extensions -------------------------

  /** Incremental add on the token frame: a plain union — token frames
    * are monoids under doc-disjoint union (caller contract, the same
    * doc-level arrival rule as every ingest twin: an id present in
    * both sides double-scores silently; de-dup upstream or
    * [[removeTokens]] first). Re-[[saveTokens]] to persist. */
  def addTokens(existing: DataFrame, more: DataFrame): DataFrame =
    existing.select(col("doc_id"), col("tok_idx"), col("vec"))
      .unionByName(more.select(col("doc_id"), col("tok_idx"), col("vec")))

  /** Remove documents from the token frame by id: one broadcast
    * anti-join on doc_id — all the removed docs' token rows leave, and
    * (unlike the lexical tier) there is NO derived df/avgdl state to
    * re-derive: MaxSim scores are per-(query, doc), so surviving docs'
    * scores are untouched by construction. */
  def removeTokens(toks: DataFrame, ids: DataFrame, idCol: String)
  : DataFrame =
    toks.join(broadcast(ids.select(col(idCol).cast("long").as("doc_id"))),
      Seq("doc_id"), "left_anti")
}
