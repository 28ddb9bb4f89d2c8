package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.VectorOps._
import graft.operators.TextOps._

/** Deduplication operators for LLM-data pipelines (driver north star;
  * the exact-dup shape generalizes lsh.rs:113-130's bit-pattern dedup).
  *
  * Every operator is pair/cluster-producing and shuffle-disciplined:
  *  - exact: one hash-shuffle on the content key;
  *  - MinHash-LSH: candidates meet only inside a band bucket
  *    (explode × numBands, then equi-join — posting-list sized, never
  *    all-pairs);
  *  - SimHash: pigeonhole chunk join (split the fingerprint into
  *    maxHamming+1 chunks; any pair within the radius must share one) —
  *    candidate set is complete, no crossJoin at scale;
  *  - n-gram Jaccard: shingle inverted-index equi-join, per-pair
  *    intersection counts vs per-doc sizes;
  *  - embedding cosine: brute pair scan kept for exactness at oracle
  *    scale; at 100 TB compose with LSHForest/IVFFlat buckets as the
  *    candidate prefilter (same join shape as MinHash bands).
  *
  * Every operator returns an UNORDERED frame: output determinism (for
  * the driver oracle, or a stable file layout) is the CALLER's orderBy
  * at the query layer, so a production pipeline never pays a
  * corpus-wide sort it didn't ask for. PlanSpec gates "no Sort inside a
  * pair-generator plan".
  */
object Dedup {

  /** Keep-first exact dedup over arbitrary key columns. */
  def exactKeepFirst(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Connected components over near-dup PAIRS — the step that turns any
    * pair-emitting operator in this file into actual row drops: every
    * node gets the MINIMUM id reachable in its duplicate graph as its
    * component label; keep-first = keep rows where id == comp
    * ([[keepFirstByPairs]]).
    *
    * Size gate: the (src, dst) pairs are persisted and counted once,
    * which fills the cache and sizes the graph ([[finishesOnDriver]]).
    * A graph whose 16 B per pair pass the shared driver gate
    * ([[graft.index.DriverGate]]: within
    * `spark.sql.autoBroadcastJoinThreshold`, `-1` disables it, and
    * within the fixed [[maxDriverPairs]] cap) is collected and
    * finished by one union-find on the driver ([[componentsOnDriver]]),
    * exact at any graph depth: 2 jobs on a local input, against 1 + 2
    * per round for the loop. A larger graph runs min-label propagation
    * distributed ([[componentsByRounds]]); `maxRounds` bounds only that
    * loop, which throws IllegalStateException on a graph it has not
    * converged on within that many rounds.
    *
    * Nodes and nulls, on both paths: every non-null endpoint is a
    * node, and only such ids are output. A pair with a null endpoint
    * joins nothing, so its non-null partner is at least a singleton;
    * a self-loop (a, a) makes `a` a singleton. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxRounds: Int = 50): DataFrame = {
    val (edges, n) = filledCounted(pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst")))
    val budget = graft.index.DriverGate.budget(pairs.sparkSession)
    try {
      if (finishesOnDriver(n, budget)) componentsOnDriver(edges)
      else componentsByRounds(edges, maxRounds)
    } finally edges.unpersist()
  }

  /** Pair count above which [[components]] never collects the graph,
    * whatever the broadcast budget (the default 10 MiB budget admits
    * the same 655,360 pairs). The cap bounds driver memory, not time:
    * the driver finish beat the loop at every size timed (the
    * test-scope `graft.ComponentsGateTiming`, local[4] on a 4-vCPU VM:
    * 2.6 s against 32 s at 650k pairs in 16-id blocks, 5.3 s against
    * 64 s at 1.3M). At its peak the driver holds the collected and
    * sorted id arrays (≤ 40 B per pair) and, while the local frame is
    * built, one external and one internal row per node (≤ 2 nodes per
    * pair); the finished frame kept ~55 B per node (36 MB at 650k
    * pairs). */
  private[graft] val maxDriverPairs: Long = 655360L

  /** Whether [[components]] finishes a graph of `pairs` pairs on the
    * driver under a broadcast budget of `budget` bytes: 16 B per pair
    * through [[graft.index.DriverGate]]. */
  private[graft] def finishesOnDriver(pairs: Long, budget: Long): Boolean =
    graft.index.DriverGate.fits(pairs * 16, budget, maxDriverPairs * 16)

  /** The driver finish of [[components]]: collect the (filled) edges as
    * primitive arrays, sort the distinct ids into a `long[]` and run
    * union-find over their indices (union by the smaller root, path
    * halving). Ids are sorted, so the smaller root index is the smaller
    * id and every root is its component's minimum. */
  private[graft] def componentsOnDriver(edges: DataFrame): DataFrame = {
    // per partition: both-present pairs flattened, and the lone
    // non-null endpoint of every pair with a null side (read from the
    // internal rows: no conversion to Row)
    val packed = GraftShims.inSession(edges.sparkSession) {
      edges.queryExecution.toRdd.mapPartitions { rows =>
        val both = new scala.collection.mutable.ArrayBuilder.ofLong
        val lone = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r =>
          if (r.isNullAt(0)) { if (!r.isNullAt(1)) lone += r.getLong(1) }
          else if (r.isNullAt(1)) lone += r.getLong(0)
          else { both += r.getLong(0); both += r.getLong(1) }
        }
        Iterator.single((both.result(), lone.result()))
      }.collect()
    }
    val ends = packed.flatMap(_._1)
    val all = ends ++ packed.flatMap(_._2)
    java.util.Arrays.sort(all)
    var n = 0
    all.foreach(id => if (n == 0 || all(n - 1) != id) { all(n) = id; n += 1 })
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.range(0, ids.length)
    def root(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < ends.length) {
      val a = root(java.util.Arrays.binarySearch(ids, ends(i)))
      val b = root(java.util.Arrays.binarySearch(ids, ends(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    val rows = new java.util.ArrayList[Row](ids.length)
    ids.indices.foreach(j => rows.add(Row(ids(j), ids(root(j)))))
    edges.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("comp", LongType))))
  }

  /** The distributed finish of [[components]] for graphs above the
    * broadcast budget: min-label propagation with POINTER HALVING. Each
    * round first pushes labels one hop along edges, then shortcuts
    * every node's label to its label's label (comp := label(comp) —
    * valid because a label is always itself a node id, and labels only
    * decrease). The shortcut compounds, so a diameter-d chain converges
    * in O(log d) rounds instead of d. Per round: two equi-joins + one
    * partial-aggregated groupBy, materialized by ONE localCheckpoint
    * that also carries the changed-vs-previous flag the convergence
    * count reads (the r15 layout); the superseded round state is
    * released as soon as its successor is filled. Labels only ever
    * decrease, so the changed-count convergence test is exact. A graph
    * still changing after `maxRounds` rounds throws
    * IllegalStateException instead of returning labels that need not
    * be minima (uniform random graphs of 50k pairs and more needed
    * over 50 rounds in `graft.ComponentsGateTiming`). */
  private[graft] def componentsByRounds(e: DataFrame, maxRounds: Int): DataFrame = {
    val edges = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // seed with the first hop: comp₀ = min(id, min neighbor). This IS
    // what round 1 of the loop would compute from identity labels
    // (prop carries neighbor ids), for one groupBy over the edge list
    // instead of a join + union + groupBy — every graph converges one
    // round earlier to the same fixed point (min reachable id).
    var state = edges.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"),
        least(col("src"), col("__mn")).as("comp"))
      .localCheckpoint(true)
    var labels = state
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
      val hopped = labels.unionByName(prop)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer halving: comp := label(comp); left join because a
      // label may predate this round's min (still a node id), and
      // labels monotonically decrease so least() is safe
      val next = hopped
        .join(hopped.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
        // carry the did-anything-move flag IN the round state: the
        // hopped ids are exactly the label ids, so the inner join
        // keeps every row
        .join(labels.select(col("id"), col("comp").as("__prev")), Seq("id"))
        .select(col("id"), col("comp"),
          (col("comp") < col("__prev")).as("__chg"))
        .localCheckpoint(true)
      graft.index.Residency.cool(state)
      state = next
      changed = next.filter(col("__chg")).count()
      labels = next.select(col("id"), col("comp"))
      round += 1
    }
    if (changed > 0) {
      graft.index.Residency.cool(state)
      throw new IllegalStateException(s"components did not converge: " +
        s"labels still changed after $round rounds (maxRounds = $maxRounds)")
    }
    labels
  }

  /** Keep-first over a near-dup pair graph: drops every row whose id
    * is not its component's minimum. Survivor choice matches the
    * reference's keep-first rule (lsh.rs:113-130) lifted from exact
    * bit-equality to any pair generator. The anti-join shuffles both
    * sides by id — no broadcast assumption, loser counts at corpus
    * scale are corpus-sized. */
  def keepFirstByPairs(docs: DataFrame, idCol: String,
                       pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val losers = components(pairs, aCol, bCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Canonical selection by QUALITY instead of id order: within each
    * duplicate component keep the row maximizing `scoreCol` (ties →
    * smallest id — a total order, so the survivor is deterministic and
    * engine-replayable; use an integer score to keep it exact). This
    * is the curation-grade variant of [[keepFirstByPairs]]: when
    * near-dups differ (truncations, boilerplate-injected copies), the
    * kept copy should be the best one, not the earliest-crawled.
    * Same scale shape: components over the pair graph (pair-graph-
    * sized, never corpus-sized), one id equi-join to attach scores,
    * a per-component argmax window bounded by component size, and a
    * corpus anti-join on the losers. */
  def keepBestByPairs(docs: DataFrame, idCol: String, scoreCol: String,
                      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val scored = components(pairs, aCol, bCol).join(
      docs.select(col(idCol).cast("long").as("id"),
        col(scoreCol).as("__score")),
      Seq("id"))
    val w = Window.partitionBy("comp")
      .orderBy(col("__score").desc, col("id").asc)
    val losers = scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") =!= 1)
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Sort-key window blocking — the "sorted neighborhood" method in
    * its value-window form: candidate pairs are rows whose 1-D
    * locality keys (a [[graft.operators.Layout]] Hilbert/Z-order key,
    * a simhash, a timestamp) differ by less than `delta`. A locality
    * key puts similar rows at nearby values, so a tight key window is
    * a cheap blocking stage feeding any verifier (cosine, Jaccard,
    * edit distance) — the record-linkage classic, here as pure
    * equi-join work: each row becomes the interval [key, key+delta)
    * and pairs fall out of [[RangeJoin.intervalOverlap]]
    * (|ka − kb| < delta ⇔ the intervals overlap). Spans are uniform
    * by construction, so no diversion branch exists and the plan is a
    * single bucketed hash join; each unordered pair emits exactly
    * once (id_a < id_b). Emits `key_dist` for downstream ranking.
    *
    * PASS A MATERIALIZED KEY COLUMN: the join references `keyCol`
    * many times, and Catalyst inlines the column's defining expression
    * into every reference — an expensive key expression (a Hilbert
    * chain, a simhash) duplicates multiplicatively in codegen. Put an
    * exchange/localCheckpoint between key computation and this call
    * (the O(d²) expression-duplication class, BASELINE r7). */
  def neighborPairsByKey(df: DataFrame, idCol: String, keyCol: String,
                         delta: Long): DataFrame = {
    require(delta > 0, "delta must be positive")
    // keys must leave delta headroom below Long.MaxValue: hi = key +
    // delta is unchecked Long addition, and a wrapped hi would emit
    // WRONG candidate pairs silently (r8 ADVICE). The guard is per-row
    // and loud; level-capped locality keys (the 8-level Hilbert keys
    // the lanes use, ≤ 2⁴⁸) never trip it — only full-width 64-bit
    // keys do, and those must be right-shifted first.
    def guardedHi(k: Column): Column = coalesce(
      when(k > lit(Long.MaxValue - delta),
        raise_error(concat(lit("neighborPairsByKey: key "),
          k.cast("string"),
          lit(s" + delta $delta overflows Long — shift keys down first")))
          .cast("long")),
      k + lit(delta))
    val a = df.select(col(idCol).cast("long").as("id_a"),
        col(keyCol).cast("long").as("__ka"))
      .withColumn("__ka_hi", guardedHi(col("__ka")))
    val b = df.select(col(idCol).cast("long").as("id_b"),
        col(keyCol).cast("long").as("__kb"))
      .withColumn("__kb_hi", guardedHi(col("__kb")))
    RangeJoin.intervalOverlap(a, "__ka", "__ka_hi", b, "__kb", "__kb_hi",
        width = delta, longCap = Int.MaxValue)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        abs(col("__ka") - col("__kb")).as("key_dist"))
  }

  /** Verification stage for any blocking/pair generator in this file:
    * exact Levenshtein distance over the candidate pairs' texts, kept
    * iff ≤ `maxDist`. Blocking recalls candidates cheaply; this
    * confirms them exactly — the standard two-stage record-linkage
    * shape made explicit. Scale: the pair frame is takedown-sized
    * relative to the corpus, so the two id equi-joins move only
    * candidate texts; the O(len²) distance runs once per CANDIDATE,
    * never per corpus pair (that is the point of blocking). Both
    * engines implement textbook unit-cost Levenshtein, so the lane is
    * exact-integer oracle-portable. */
  def editVerifyPairs(pairs: DataFrame, aCol: String, bCol: String,
                      docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be nonnegative")
    val t = docs.select(col(idCol).cast("long").as("__id"),
      col(textCol).as("__t"))
    pairs
      .join(t.withColumnRenamed("__id", aCol)
        .withColumnRenamed("__t", "__ta"), aCol)
      .join(t.withColumnRenamed("__id", bCol)
        .withColumnRenamed("__t", "__tb"), bCol)
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb")).cast("long"))
      .filter(col("edit_dist") <= maxDist)
      .select(col(aCol), col(bCol), col("edit_dist"))
  }

  /** MinHash band-bucket keys `(id, band, key)` for each doc — the
    * signature stage shared by [[minhashBandPairs]] and the streaming
    * admission filter ([[graft.streaming.Streaming]]'s dedup ingest).
    * Docs with < 3 tokens have no signature and emit no rows.
    * One md5 per shingle via a typed mapPartitions (one MessageDigest
    * per partition) — value-equivalent to the Column/SQL pipeline,
    * ~10× cheaper (see TextHashFast contracts).
    *
    * `bandSize` (the LSH r parameter) tunes the S-curve: a pair
    * colliding in one band needs all r row-minima equal, so larger r
    * sharpens the similarity threshold (~(1/numBands)^(1/r)) and cuts
    * false positives; smaller r boosts recall. r = 2 packs the band
    * into sig0·P + sig1 (exact long arithmetic); other r take the
    * 60-bit md5 fold of the band values ([[TextHashFast.bandKey]]) —
    * both shapes replicate exactly in the DuckDB oracle. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 12, bandSize: Int = 2): DataFrame = {
    require(bandSize >= 1 && numHashes % bandSize == 0,
      s"bandSize must be >= 1 and divide numHashes, got r=$bandSize, h=$numHashes")
    val numBands = numHashes / bandSize
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val sh = TextHashFast.shingles3(TextHashFast.tokenize(text))
          if (sh.isEmpty) Iterator.empty
          else {
            val sig = TextHashFast.minhashSig(md, sh, numHashes)
            (0 until numBands).iterator.map { b =>
              val key =
                if (bandSize == 2) sig(2 * b) * TextHashFast.P + sig(2 * b + 1)
                else TextHashFast.bandKey(md, sig, b * bandSize, bandSize)
              (id, b, key)
            }
          }
        }
      }
      .toDF("id", "band", "key")
  }

  /** Prefix-causal keep-first over MinHash band buckets: a doc is
    * dropped iff it shares ≥ 1 band bucket with ANY lower-id doc —
    * admitted or not. This is the admission rule a STREAMING dedup can
    * enforce exactly (state = every bucket key seen so far, no
    * retraction needed), and [[graft.streaming.Streaming]]'s minhash
    * ingest twin reproduces it batch-for-batch when ids arrive in
    * order. It differs from component keep-first
    * ([[keepFirstByPairs]]) only on later-bridge graphs (a doc seen
    * AFTER two clusters that links them) — the case no prefix-causal
    * stream can resolve without retraction. Shuffle shape: one band
    * self-join (posting-list sized) + one anti-join on id. */
  def prefixKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 12, bandSize: Int = 2): DataFrame = {
    val bands = filled(minhashBands(docs, idCol, textCol, numHashes, bandSize))
    val out = prefixKeepFirstOf(docs, idCol, bands)
      .localCheckpoint(true)
    bands.unpersist()
    out
  }

  /** The un-checkpointed prefix-keep-first plan over a prepared bands
    * frame — split out so the plan gates can inspect the join shape
    * (the public wrapper's eager checkpoint collapses it to a leaf). */
  private[graft] def prefixKeepFirstOf(docs: DataFrame, idCol: String,
                                       bands: DataFrame): DataFrame = {
    val losers = bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("r.id").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol))
  }

  /** `df` persisted and filled by one eager pass, for a checkpointed
    * pair plan that reads it from several branches: the checkpoint
    * action submits those branches' stages as concurrent jobs, and on an
    * unfilled cache they all miss at once — one computes each partition
    * while the rest hold task slots blocked on the block lock (r15
    * profile: 8 concurrent single-task jobs; the log shows `Block rdd_…
    * already exists`). The caller unpersists after its checkpoint. */
  private def filled(df: DataFrame): DataFrame = filledCounted(df)._1

  /** [[filled]], with the row count its fill pass reads. An RDD count:
    * the frame's own `count()` adds an aggregate exchange, which under
    * AQE is a separate fill job and a shuffle job. */
  private def filledCounted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, GraftShims.inSession(df.sparkSession)(p.rdd.count()))
  }

  /** Near-dup candidate pairs via MinHash banding: docs sharing at least
    * one of numHashes/bandSize band buckets, with the shared-band count.
    * The bands frame is [[filled]] so the self-join evaluates the
    * signature pipeline once. */
  def minhashBandPairs(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 12, bandSize: Int = 2): DataFrame = {
    val bands = filled(minhashBands(docs, idCol, textCol, numHashes, bandSize))
    val out = minhashPairsOf(bands)
      .localCheckpoint(true) // materialize the (small) pairs …
    bands.unpersist()        // … then release the signature frame
    out
  }

  /** Un-checkpointed band self-join plan (see [[prefixKeepFirstOf]]). */
  private[graft] def minhashPairsOf(bands: DataFrame): DataFrame =
    bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))

  /** Exact n-gram Jaccard over distinct word-3-shingle sets, via the
    * shingle inverted index; pairs with similarity ≥ threshold.
    * Division is exact-int-to-double → engine-portable bits.
    *
    * `dfCap` bounds the inverted-index fanout: a shingle shared by N
    * docs emits N² join rows, so one hot stop-shingle in 10⁵ docs is
    * 10¹⁰ pairs — the all-pairs blowup this operator exists to avoid.
    * With dfCap > 0, shingles whose document frequency exceeds the cap
    * are dropped from the universe BEFORE sizes and intersections
    * (result = exact Jaccard over the ≤cap-frequency shingle space, the
    * standard stop-shingle treatment), capping any posting list at cap²
    * pairs. 0 = uncapped (the oracle configuration). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, dfCap: Int = 0): DataFrame = {
    val exAll = filled(shinglePostings(docs, idCol, textCol))
    val out = jaccardPairsOf(capPostings(exAll, dfCap), threshold)
      .localCheckpoint(true)
    exAll.unpersist()
    out
  }

  /** Shingle-containment pairs over the SAME inverted index: a pair
    * qualifies when either side's shingle set is ≥ threshold contained
    * in the other (containment(A→B) = |A∩B| / |A|). Catches the
    * partial copies symmetric Jaccard misses — a 100-shingle quote
    * embedded verbatim in a 1000-shingle doc has Jaccard ≈ 0.1 but
    * containment 1.0. Identical join/shuffle shape and dfCap insurance
    * as [[jaccardPairs]]. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8, dfCap: Int = 0): DataFrame = {
    val exAll = filled(shinglePostings(docs, idCol, textCol))
    val out = containmentPairsOf(capPostings(exAll, dfCap), threshold)
      .localCheckpoint(true)
    exAll.unpersist()
    out
  }

  /** Winnow-fingerprint Jaccard pairs — MOSS-style near-dup detection
    * over character-k-gram winnowing fingerprints
    * ([[graft.operators.TextOps.winnow]], Schleimer et al.). Two
    * properties word-shingles lack: the winnowing GUARANTEE (any
    * shared substring of ≥ k+w−1 chars leaves at least one common
    * fingerprint — sampling with a floor, not a lottery), and
    * tokenizer independence (works on boundary-free scripts that
    * word-3-shingles can't segment). The posting list is
    * winnow-SAMPLED (≈ 2/(w+1) of the char-gram universe per doc —
    * the full gram index it replaces; vs word-3-shingles the count
    * depends on token length, same order of magnitude on prose).
    * Identical join shape and exact integer-ratio Jaccard; output
    * unordered like every pair generator (callers order).
    *
    * The dfCap insurance defaults ON here (64), unlike the word-
    * shingle generators: char-k-grams draw from a far smaller
    * universe, so low-entropy corpora collapse onto few fingerprints
    * and the inverted-index join quadratics — measured at sf0.1
    * (5k small-vocab docs): 1,002 distinct fps, mean df 438,
    * Σdf² ≈ 590M join rows, 1,032 s; capped at 64 the same corpus
    * joins in seconds and the sf0.01 near-dup pair set is UNCHANGED
    * (true near-dups share their rare fingerprints, which the cap
    * keeps). Pass dfCap = 0 to opt out. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.5, k: Int = 5, w: Int = 4,
                  dfCap: Int = 64): DataFrame = {
    val ex = filled(winnowPostings(docs, idCol, textCol, k, w))
    val out = jaccardPairsOf(capPostings(ex, dfCap), threshold)
      .localCheckpoint(true)
    ex.unpersist()
    out
  }

  /** The winnow fingerprint posting list (id, sh) — [[winnowPairs]]'s
    * first phase, exposed so the bench can time fingerprinting and the
    * pair join separately. Runs the [[TextHashFast.winnowFps]] JVM
    * kernel per partition (O(L) deque min; value-equivalent to the
    * Column pipeline charGramHashes → winnowOfGrams — DedupSpec pins
    * the equivalence, the oracle replays the Column semantics in
    * SQL). */
  def winnowPostings(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          TextHashFast.winnowFps(md, text, k, w).iterator.map(s => (id, s))
        }
      }
      .toDF("id", "sh")
  }

  /** Distinct word-3-shingle posting list (id, sh) per doc. */
  private def shinglePostings(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        TextHashFast.shingles3(TextHashFast.tokenize(text))
          .distinct.iterator.map(s => (id, s))
      })
      .toDF("id", "sh")
  }

  /** hot-shingle blacklist: at most (total postings / cap) entries, so
    * it broadcasts; the anti-join never shuffles the posting lists */
  private[graft] def capPostings(ex: DataFrame, dfCap: Int): DataFrame =
    if (dfCap > 0) {
      val hot = ex.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select("sh")
      ex.join(broadcast(hot), Seq("sh"), "left_anti")
    } else ex

  /** Un-checkpointed inverted-index join plan over a prepared (id, sh)
    * posting frame (see [[prefixKeepFirstOf]]). */
  private[graft] def jaccardPairsOf(ex: DataFrame, threshold: Double): DataFrame =
    interWithSizes(ex)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Containment twin of [[jaccardPairsOf]]: max of the two directed
    * containments, so the threshold reads "either side is this
    * contained in the other". */
  private[graft] def containmentPairsOf(ex: DataFrame, threshold: Double): DataFrame =
    interWithSizes(ex)
      .withColumn("containment", greatest(
        col("inter").cast("double") / col("na").cast("double"),
        col("inter").cast("double") / col("nb").cast("double")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))

  /** Pair intersection counts + both side sizes via the inverted-index
    * equi-join (the shared core of Jaccard and containment). */
  private def interWithSizes(ex: DataFrame): DataFrame = {
    val sizes = ex.groupBy("id").agg(count(lit(1)).as("n"))
    ex.as("l").join(ex.as("r"),
        col("l.sh") === col("r.sh") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
  }

  /** SimHash near-dup pairs within a Hamming radius, via pigeonhole
    * chunking: the `bits`-wide fingerprint splits into maxHamming+1
    * chunks; any pair with ≤ maxHamming differing bits shares ≥ 1 chunk,
    * so the chunk equi-join is a complete candidate generator.
    * bits = 16 (oracle-continuity default; saturates beyond ~10⁴ docs)
    * or 64 ([[TextHashFast.simhash64]], the corpus-scale fingerprint). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 2, bits: Int = 16): DataFrame = {
    require(bits == 16 || bits == 64, s"bits must be 16 or 64, got $bits")
    val spark = docs.sparkSession
    import spark.implicits._
    val fp = filled(docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = TextHashFast.tokenize(text)
          val sim = if (bits == 16) TextHashFast.simhash16(md, toks).toLong
                    else TextHashFast.simhash64(md, toks)
          (id, sim)
        }
      }
      .toDF("id", "sim"))
    val out = simhashPairsOf(fp, maxHamming, bits).localCheckpoint(true)
    fp.unpersist()
    out
  }

  /** Un-checkpointed pigeonhole-chunk join plan over a prepared
    * (id, sim) fingerprint frame (see [[prefixKeepFirstOf]]). */
  /** The pigeonhole chunk explosion of a fingerprint frame `(…, sim)`:
    * one row per (maxHamming+1)-chunk with its extracted key — two
    * frames chunked the same way equi-join on (chunk, ckey) and a
    * hamming ≤ maxHamming pair is GUARANTEED to collide on at least
    * one chunk (pigeonhole). */
  private[graft] def simChunksOf(sims: DataFrame, maxHamming: Int,
                                 bits: Int): DataFrame = {
    val nChunks = maxHamming + 1
    val bitsPer = bits / nChunks
    sims.select(col("sim"), posexplode(array(
      (0 until nChunks).map { c =>
        // chunk c: bits [c*bitsPer, ...) — last chunk takes the remainder
        val lo = c * bitsPer
        val width = if (c == nChunks - 1) bits - lo else bitsPer
        // width == 64 (maxHamming=0, bits=64): 1L<<64 wraps to 1 (Java
        // shift mod 64) → mask 0 would collapse every key; use -1L
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        shiftrightunsigned(col("sim"), lo).bitwiseAND(lit(mask))
      }: _*))).toDF("sim", "chunk", "ckey")
  }

  /** CROSS-frame Hamming pairs: every (a.id, b.id) with
    * hamming(a.sim, b.sim) ≤ maxHamming, a from `a` and b from `b` —
    * the batch-vs-state probe of streaming fingerprint dedup. Same
    * complete-candidates pigeonhole guarantee as [[simhashPairsOf]];
    * distinct-sim chunk join, ids expanded after. */
  private[graft] def crossHammingPairs(a: DataFrame, b: DataFrame,
                                       maxHamming: Int,
                                       bits: Int): DataFrame = {
    val ca = simChunksOf(a.select(col("sim")).distinct(), maxHamming, bits)
    val cb = simChunksOf(b.select(col("sim")).distinct(), maxHamming, bits)
    val simPairs = ca.as("l").join(cb.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey"))
      .select(col("l.sim").as("sa"), col("r.sim").as("sb"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sa", "sb")
    a.as("x").join(broadcast(simPairs), col("x.sim") === col("sa"))
      .join(b.as("y"), col("y.sim") === col("sb"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Prefix-causal keep-first over a CANONICAL pair frame (aCol <
    * bCol): drop a row iff it is the LARGER id of any pair — the
    * non-recursive admission rule a stream can apply row-by-row in id
    * order (the [[prefixKeepFirst]] family, generalized to any pair
    * generator: pHash, audio hash, SimHash). Unlike
    * [[keepFirstByPairs]] there is no component closure: B drops
    * because of A whether or not A itself survives. */
  def prefixKeepFirstByPairs(df: DataFrame, idCol: String,
                             pairs: DataFrame, aCol: String,
                             bCol: String): DataFrame =
    df.join(pairs.select(col(bCol).cast("long").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  private[graft] def simhashPairsOf(fp: DataFrame, maxHamming: Int,
                                    bits: Int): DataFrame = {
    // the fingerprint space is far smaller than the corpus (2^16) or at
    // least heavily collapsed by near-dups (64-bit): run the chunk join
    // over DISTINCT fingerprints (quadratically less fanout). Only the
    // qualifying fingerprint PAIRS are broadcast — they're bounded by
    // the near-dup structure, while fp itself scales with the corpus
    // and must never be broadcast; doc-pair expansion is a shuffle
    // equi-join on sim.
    val chunks = simChunksOf(fp.select(col("sim")).distinct(), maxHamming,
      bits)
    val simPairs = chunks.as("l").join(chunks.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey") &&
          col("l.sim") < col("r.sim"))
      .select(col("l.sim").as("sa"), col("r.sim").as("sb"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sa", "sb")
    val diffSim = fp.as("a")
      .join(broadcast(simPairs), col("a.sim") === col("sa"))
      .join(fp.as("b"), col("b.sim") === col("sb"))
      .select(least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"), col("hamming"))
    val sameSim = fp.as("a").join(fp.as("b"),
        col("a.sim") === col("b.sim") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        lit(0).as("hamming"))
    diffSim.unionByName(sameSim)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  /** IMAGE near-dup pairs via 64-bit DCT perceptual hash — the visual
    * face of the dedup family (r8 gap #3: image-heavy corpora deduped
    * only on exact bytes): fingerprints from
    * [[Multimodal.imagePhash]] (decode → 32×32 luminance → DCT 8×8 →
    * sign-of-mean bits; re-encode/resize survivable), pairs via the
    * SAME 64-bit pigeonhole join as SimHash ([[simhashPairsOf]]:
    * hamming ≤ maxHamming ⇒ some (maxHamming+1)-chunk matches exactly
    * — an equi-join, never all-pairs). Emits (doc_a, doc_b, hamming);
    * feed [[keepFirstByPairs]]/[[keepBestByPairs]] for survivors.
    * Scale: fingerprint table is 8 B/image; the join cost is the
    * pigeonhole bucket structure, exactly SimHash's. */
  def imagePhashPairs(media: DataFrame, idCol: String = "id",
                      contentCol: String = "content",
                      maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming=$maxHamming out of range [0,64)")
    simhashPairsOf(
      Multimodal.imagePhash(media, idCol, contentCol)
        .select(col("id"), col("phash").as("sim")),
      maxHamming, bits = 64)
  }

  /** AUDIO near-dup pairs via the 64-bit energy-delta fingerprint
    * ([[Multimodal.audioHash]] — volume- and re-encode-robust sign-of-
    * delta bits over the RMS envelope), paired by the same pigeonhole
    * chunk join as SimHash/pHash. The repeated-jingle / duplicate-track
    * operator: at 100 TB of audio the pair stage runs over
    * corpus-count × 8 B fingerprints. */
  def audioHashPairs(media: DataFrame, idCol: String = "id",
                     contentCol: String = "content",
                     maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming=$maxHamming out of range [0,64)")
    simhashPairsOf(
      Multimodal.audioHash(media, idCol, contentCol)
        .select(col("id"), col("ahash").as("sim")),
      maxHamming, bits = 64)
  }

  /** SHIFT-ROBUST audio near-dup pairs — the Haitsma–Kalker matching
    * shape over [[Multimodal.audioBlockFingerprints]], catching the
    * dup class the whole-track hash ([[audioHashPairs]]) structurally
    * misses: silence-trimmed / intro-clipped copies. Two stages, both
    * equi-joins:
    *
    *  1. ANCHOR: tracks sharing an identical 32-bit block
    *     sub-fingerprint meet in an equi-join on `bfp` (H-K's exact
    *     sub-fingerprint lookup). A `dfCap` drops sub-fingerprints
    *     appearing in more than that many DISTINCT tracks first —
    *     silence and ubiquitous motifs would otherwise be quadratic
    *     hot keys (the same posting-list cap as [[jaccardPairs]]).
    *  2. VOTE: a real trimmed copy matches at ONE consistent block
    *     offset (blockA − blockB = trim/hop for every aligned frame),
    *     so pairs qualify iff ≥ `minMatches` DISTINCT anchor blocks
    *     agree on the same offset — random single-frame collisions
    *     can't vote themselves in.
    *
    * Emits (doc_a, doc_b, off, n_matches) with doc_a < doc_b, one row
    * per qualifying offset; feed [[keepFirstByPairs]] /
    * [[prefixKeepFirstByPairs]] for survivors. Scale: the join moves
    * 16 B posting rows (≈16/track-second), never media bytes; the
    * vote is a groupBy on pair+offset keys — both shapes hold at
    * 100 TB the way every band/bucket generator here does. */
  def audioBlockPairs(media: DataFrame, idCol: String = "id",
                      contentCol: String = "content",
                      frameSec: Double = 0.25, hopSec: Double = 0.0625,
                      minMatches: Int = 4, dfCap: Int = 64): DataFrame = {
    require(minMatches >= 1, s"audioBlockPairs: minMatches >= 1, got $minMatches")
    require(dfCap >= 2, s"audioBlockPairs: dfCap >= 2, got $dfCap")
    audioBlockPairsOf(
      Multimodal.audioBlockFingerprints(media, idCol, contentCol,
        frameSec, hopSec),
      minMatches, dfCap)
  }

  /** [[audioBlockPairs]] over an already-fingerprinted (id, block,
    * bfp) frame — the form the streaming admission face reuses. */
  private[graft] def audioBlockPairsOf(blocks: DataFrame, minMatches: Int,
                                       dfCap: Int): DataFrame = {
    val rare = blocks.groupBy(col("bfp"))
      .agg(countDistinct(col("id")).as("_df"))
      .filter(col("_df") <= dfCap)
      .select(col("bfp"))
    val posted = blocks.join(rare, Seq("bfp"), "left_semi")
    posted.as("a").join(posted.as("b"),
        col("a.bfp") === col("b.bfp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        (col("a.block") - col("b.block")).as("off"))
      .agg(countDistinct(col("a.block")).as("n_matches"))
      .filter(col("n_matches") >= minMatches)
  }

  /** Cross-frame block-anchor matches — which `probe` ids match ANY
    * `state` id at a consistent offset with ≥ minMatches distinct
    * anchor blocks (the batch×state face of [[audioBlockPairsOf]];
    * the df cap applies to the state side, where the posting lists
    * accumulate). Emits the matching probe ids. */
  private[graft] def audioBlockHitsVs(probe: DataFrame, state: DataFrame,
                                      minMatches: Int, dfCap: Int): DataFrame = {
    val rare = state.groupBy(col("bfp"))
      .agg(countDistinct(col("id")).as("_df"))
      .filter(col("_df") <= dfCap)
      .select(col("bfp"))
    val posted = state.join(rare, Seq("bfp"), "left_semi")
    probe.as("n").join(posted.as("s"), col("n.bfp") === col("s.bfp"))
      .groupBy(col("n.id").as("id"), col("s.id").as("sid"),
        (col("n.block") - col("s.block")).as("off"))
      .agg(countDistinct(col("n.block")).as("nm"))
      .filter(col("nm") >= minMatches)
      .select(col("id")).distinct()
  }

  /** Embedding near-dup pairs via LSH-forest bucket prefilter — the
    * 100 TB path: candidates meet only inside a shared leaf bucket of
    * one of the forest's trees (equi-join on leaf paths, never
    * all-pairs), then exact cosine re-check. A near-identical pair lands
    * in the same leaf with probability ≈ 1 per tree (bisector planes
    * barely separate ε-close points), so recall is governed by numTrees.
    */
  def embeddingPairsViaLSH(emb: DataFrame, idCol: String, vecCol: String,
                           maxCosDist: Double = 0.2,
                           params: graft.index.LSHForest.Params =
                             graft.index.LSHForest.Params(numTrees = 8, maxNodeSize = 64))
  : DataFrame = {
    val model = graft.index.LSHForest.build(emb, idCol, vecCol, params)
    val idx = filled(model.indexed
      .select(col("id"), col("vector"),
        posexplode(col("paths")).as(Seq("tree", "path"))))
    val out = embeddingPairsOf(idx, maxCosDist).localCheckpoint(true)
    idx.unpersist()
    out
  }

  /** Un-checkpointed leaf-bucket join plan over a prepared
    * (id, vector, tree, path) frame (see [[prefixKeepFirstOf]]).
    * Distance is computed codegen-narrow INSIDE each bucket join and the
    * threshold filter runs BEFORE the dedup shuffle: a pair met in
    * several trees carries a bit-identical distance, so deduplicating
    * after the filter is equivalent — and the only shuffled rows are
    * the surviving near-dup (id_a, id_b, distance) triples, never
    * candidate vector pairs. */
  private[graft] def embeddingPairsOf(idx: DataFrame, maxCosDist: Double): DataFrame =
    idx.as("l").join(idx.as("r"),
        col("l.tree") === col("r.tree") && col("l.path") === col("r.path") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        cosineDistance(col("l.vector"), col("r.vector")).as("distance"))
      .filter(col("distance") < maxCosDist)
      .dropDuplicates("id_a", "id_b")

  /** Embedding near-dup pairs under cosine distance < threshold. Exact
    * pair scan (oracle-checkable); see class doc for the 100 TB path
    * ([[embeddingPairsViaLSH]]). */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     maxCosDist: Double = 0.2): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    v.as("l").join(v.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        cosineDistance(col("l.vec"), col("r.vec")).as("distance"))
      .filter(col("distance") < maxCosDist)
  }

  /** Within-cell embedding near-dup pairs over a k-means-assigned frame
    * `(id, vector, cluster)` — the candidate generator of SemDeDup-style
    * semantic dedup (Abbas et al. 2023, "SemDeDup"): duplicates are only
    * sought INSIDE a cluster, so the join is an equi-join on `cluster`
    * and the pair space is Σ|cell|², never corpus². Distance is computed
    * codegen-narrow inside the bucket join and the threshold filter runs
    * before anything else shuffles — only surviving (id_a, id_b,
    * distance) triples leave the join. Cell sizes bound the cost: cap
    * skewed cells at build time ([[graft.index.IVFFlat]]'s rebalance /
    * maxCellFactor machinery) the way dfCap bounds hot shingles. */
  def semanticPairs(assigned: DataFrame, maxCosDist: Double = 0.2): DataFrame = {
    val v = assigned.select(col("id").cast("long").as("id"),
      col("vector").cast("array<float>").as("vec"), col("cluster"))
    v.as("l").join(v.as("r"),
        col("l.cluster") === col("r.cluster") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        cosineDistance(col("l.vec"), col("r.vec")).as("distance"))
      .filter(col("distance") < maxCosDist)
  }

  /** [[semanticPairs]] over a MULTI-assigned frame
    * ([[graft.index.IVFFlat.assignMulti]]: one row per assigned cell +
    * the row's sorted `cells` set) — the cell-boundary repair: an
    * ε-dup pair straddling a cell boundary is invisible to the
    * single-assignment scan (r8: 83 of 10,000 planted 1M dups
    * survived exactly this way); with boundary vectors in both their
    * top-2 cells the pair shares a cell again. Each pair emits EXACTLY
    * once via the first-shared-cell rule — cluster ==
    * min(cells_a ∩ cells_b), a per-row filter, no distinct shuffle
    * (the [[RangeJoin]] proration idiom). Pair space grows only by
    * the boundary fraction: Σ|cell∪boundary|², never corpus². */
  def semanticPairsMulti(massigned: DataFrame,
                         maxCosDist: Double = 0.2): DataFrame = {
    val v = massigned.select(col("id").cast("long").as("id"),
      col("vector").cast("array<float>").as("vec"), col("cluster"),
      col("cells"))
    v.as("l").join(v.as("r"),
        col("l.cluster") === col("r.cluster") && col("l.id") < col("r.id"))
      .filter(col("l.cluster") ===
        array_min(array_intersect(col("l.cells"), col("r.cells"))))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        cosineDistance(col("l.vec"), col("r.vec")).as("distance"))
      .filter(col("distance") < maxCosDist)
  }

  /** Corpus-internal verbatim repeated spans — the span-level exact
    * dedup shape of Lee et al. 2021 ("Deduplicating Training Data
    * Makes Language Models Better"), at n-gram resolution instead of a
    * suffix array: a token position is REPEATED when its n-gram occurs
    * in at least `minDf` distinct documents; maximal runs of repeated
    * positions merge into spans `(doc_id, start_tok, end_tok,
    * n_grams)` (inclusive 0-based token bounds; a run of g consecutive
    * repeated grams covers g + n − 1 tokens). Whole-doc dedup misses a
    * boilerplate paragraph quoted inside an otherwise-original page —
    * this is the operator that finds it, corpus-internally (the
    * cross-set face is [[graft.operators.Decontam]]).
    *
    * Shuffle discipline: grams travel as md5 digests, never text; the
    * df pass is one posting-list-sized groupBy; the run merge is a
    * per-doc window (doc-sized partitions). Suffix-array resolution
    * (arbitrary-length spans, not n-gram-quantized) costs a
    * corpus-wide suffix sort — the n-gram quantization is the
    * distributed trade, and n is the resolution knob. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, minDf: Int = 2): DataFrame = {
    require(n >= 2 && n <= 32, s"n=$n out of range [2,32]")
    val grams = filled(gramPositions(docs, idCol, textCol, n))
    val shared = grams.groupBy("gram_h")
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gram_h"))
    val marked = grams.join(shared, Seq("gram_h"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val out = marked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + lit(n - 1)).as("end_tok"),
        count(lit(1)).as("n_grams"))
      .select(col("id").as(idCol), col("start_tok").cast("long"),
        col("end_tok").cast("long"), col("n_grams"))
      .localCheckpoint(true)
    grams.unpersist()
    out
  }

  /** (id, pos, gram_h) for every n-gram position: pos is the 0-based
    * index of the gram's first token, gram_h its md5 digest (32 hex
    * chars however long the tokens — the digest-shuffle idiom of
    * [[exactKeepFirst]]'s norm_h). The tokens array is projected FIRST
    * and the lambda slices the attribute (the O(d²)-lambda rule:
    * attributes are free to reference, expressions are not). */
  private def gramPositions(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - lit(n)),
        i => md5(array_join(slice(col("toks"), i + lit(1), lit(n)), " "))))
        .as(Seq("pos", "gram_h")))

  /** Remove every token covered by a span table (the scrub face of
    * [[repeatedSpans]]): tokens outside all of the doc's spans are
    * re-joined in order with single spaces. Docs may normalize
    * whitespace first if byte-identical round-trips matter. The
    * anti-join is per-doc (equi on id + range predicate); reassembly
    * sorts WITHIN each doc group only. Returns (idCol, scrubbed,
    * n_kept). */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         spans: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val sp = spans.select(col(idCol).cast("long").as("id"),
      col("start_tok"), col("end_tok"))
    val kept = toks.as("t").join(sp.as("s"),
        col("t.id") === col("s.id") &&
          col("t.pos").between(col("s.start_tok"), col("s.end_tok")),
        "left_anti")
    val agg = kept.groupBy(col("id"))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("scrubbed"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** SemDeDup end-to-end: k-means cells → within-cell cosine pairs
    * < `maxCosDist` → connected-component keep-first over the pair
    * graph. Returns the surviving rows of `emb` (all columns).
    *
    * Boundary vectors multi-assign to their top-2 cells
    * ([[graft.index.IVFFlat.assignMulti]], default marginSq = 1.5) so
    * an ε-dup pair straddling a cell boundary still collides —
    * marginSq = 1 recovers the single-assignment scan.
    *
    * Survivor rule deviation from the paper (documented): SemDeDup keeps
    * the cluster member with the LOWEST similarity to its centroid; this
    * suite's uniform convention is keep-first by id (deterministic,
    * streaming-enforceable — the lsh.rs:113-130 rule every other dedup
    * operator uses), and the pair graph is closed under components so
    * chains of near-dups collapse to one survivor either way. */
  def semdedup(emb: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Float]],
               maxCosDist: Double = 0.2,
               marginSq: Double = 1.5): DataFrame = {
    val massigned = graft.index.IVFFlat.assignMulti(emb, idCol, vecCol,
      centroids, marginSq)
    keepFirstByPairs(emb, idCol, semanticPairsMulti(massigned, maxCosDist),
      "id_a", "id_b")
  }

  /** Prefix-causal SemDeDup — the streaming-enforceable admission rule
    * ([[prefixKeepFirst]]'s semantic twin): drop a row iff ANY
    * lower-id row sharing a cell sits within `maxCosDist`, whether
    * or not that row itself survives. Boundary vectors multi-assign
    * like [[semdedup]] (losers need no first-shared-cell dedup — the
    * distinct absorbs double hits). Non-recursive (no component
    * closure), so a stream applying it row-by-row in id order decides
    * each admission ONCE and never retracts —
    * [[graft.streaming.Streaming.ingestSemdedup]] is the exact
    * streaming face, stream ≡ batch pinned in StreamingSpec. */
  def semanticPrefixKeepFirst(emb: DataFrame, idCol: String, vecCol: String,
                              centroids: Array[Array[Float]],
                              maxCosDist: Double = 0.2,
                              marginSq: Double = 1.5): DataFrame = {
    val assigned = graft.index.IVFFlat.assignMulti(emb, idCol, vecCol,
      centroids, marginSq)
    val losers = assigned.as("l").join(assigned.as("r"),
        col("l.cluster") === col("r.cluster") && col("l.id") < col("r.id") &&
          cosineDistance(col("l.vector"), col("r.vector")) < maxCosDist)
      .select(col("r.id").as(idCol)).distinct()
    emb.join(losers, Seq(idCol), "left_anti")
  }
}
