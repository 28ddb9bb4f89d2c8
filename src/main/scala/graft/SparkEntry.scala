package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rotate.mix64
import graft.functions.VectorOps._
import graft.index.{HNSW, HNSWGraph, IVFFlat, IVFPQ, LSHForest, Overlap, PQ}
import graft.operators.{Dedup, Dsir, Exhaustive, LateInteraction, Retrieval, Scaling, TextOps}
import graft.streaming.Streaming

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every deterministic query here has a DuckDB-equivalent in
  * [[oracleSql]] (the three trained/approximate ANN entries — hnsw_knn,
  * lsh_knn, ivf_kmeans — are rows-only by design, with ScalaTest
  * recall/shape gates instead); numeric
  * columns are computed in double precision with identical element order
  * on both engines (bit-identical results) or as fixed-point BIGINT
  * (exact, order-independent sums), so the driver's hash compare is
  * stable. DECIMAL never appears in a final output schema: DuckDB widens
  * aggregate DECIMALs/BIGINTs differently (DECIMAL(38,s), HUGEINT) and
  * renders scale differently, which breaks the driver hash even when
  * values match (proven in round 1). Column aliases match exactly.
  */
object SparkEntry {

  /** Input-table metadata cache: `spark.read.parquet` re-lists the
    * path and re-reads footers for schema on EVERY call, costing a
    * small driver job (~20-50 ms) plus its planning gap per lane —
    * ~fixed overhead × 227 lanes. Memoize the ANALYZED RELATION per
    * (session, path): this is metadata caching only (what a metastore
    * table provides) — the frame is lazy, every action still scans the
    * parquet files, and no computed result is held. Each cached frame
    * holds its session, so an entry is released explicitly: the listener
    * registered with the entry drops it when the session's application
    * ends (`spark.stop()`). */
  private val tblCache = scala.collection.mutable.HashMap.empty[
    SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]

  /** Whether `s` holds a [[tbl]] cache entry. */
  private[graft] def tblCached(s: SparkSession): Boolean =
    tblCache.synchronized(tblCache.contains(s))

  /** Input tables are immutable for the life of a session: the memoized
    * relation keeps the file listing of its first read, so a session
    * must not see an input directory rewritten after that read. */
  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tblCache.synchronized {
      tblCache.getOrElseUpdate(s, {
        s.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
              tblCache.synchronized(tblCache.remove(s)): Unit
          })
        scala.collection.concurrent.TrieMap.empty[String, DataFrame]
      })
    }
    perSession.getOrElseUpdate(s"$dir/$name.parquet", {
      val df = s.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** Per-run scratch dir for persist-shaped lanes, deleted on JVM exit:
    * lanes return LAZY frames that read the written artifact after the
    * lane body returns, so deletion can't happen at lane end — but the
    * full-corpus token/posting frames the persist lanes write (maxsim/
    * phrase are MBs per run at sf0.1) must not accumulate in /tmp
    * across repeated Verify/Bench runs. One recursive-delete shutdown
    * hook per created dir; a second process never shares a dir (the
    * prefix is per-call createTempDirectory). */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** The events contract is an epoch-NANOS long `ts` axis. The driver's
    * table has shipped both as parquet TIMESTAMP(NANOS) (read as long
    * under `nanosAsLong`) and as TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ) — normalize the latter back to the ns-long axis
    * (sub-µs digits zero) so every event-time operator keeps ONE integer
    * time contract. The session timezone is pinned UTC in every entry
    * point, so the NTZ→timestamp cast is the identity on the stored
    * micros — matching DuckDB's epoch_ns(ts)/epoch_us(ts) exactly. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) => df
      case Some(_) => df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case None => df
    }

  /** The pinned fixtures' one collect: `vec` of the rows whose `idCol`
    * lies in [from, until), in id order, as float arrays. */
  private def pinnedRows(df: DataFrame, idCol: String, until: Int,
                         vec: Column, from: Int = 0): Array[Array[Float]] = {
    val id = col(idCol)
    df.filter(if (from == 0) id < until else id >= from && id < until)
      .orderBy(id).select(vec).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
  }

  /** Deterministic pseudo-centroids for SQL-checkable IVFFlat queries:
    * the embedding vectors with vec_id < 8, cluster id = vec_id. */
  private[graft] def fixedCentroids(emb: DataFrame): Array[Array[Float]] =
    pinnedRows(emb, "vec_id", 8, col("embedding").cast("array<float>"))

  /** Pinned IVF model for the SQL-checkable IVF-family lanes: `corpus`
    * assigned to `cents` (collected once per lane: [[fixedCentroids]]
    * or another pinned grid), every cell size pinned at Long.MaxValue so the adaptive probe
    * never stops early — searches probe exactly `nprobe` cells, and
    * nprobe = cents.length is the exhaustive oracle. Lanes pass the
    * corpus they index (`emb`, a filtered half, `Scaling.widen(emb)`). */
  private[graft] def pinnedIvf(corpus: DataFrame,
                               cents: Array[Array[Float]]): IVFFlat.Model =
    IVFFlat.Model(IVFFlat.Params(cents.length), cents,
      Array.fill(cents.length)(Long.MaxValue),
      IVFFlat.assign(corpus, "vec_id", "embedding", cents))

  /** [[pinnedIvf]]'s cells and sizes with PQ codes (m = 4, k = 16)
    * against the pinned codebooks `cbs` ([[fixedCodebooks]]), residual
    * when `residual`. IVFPQ.build assigns and encodes `corpus` in one
    * fused pass, so the IVF model's lazy assign frame never runs (it
    * costs one small centroid broadcast). */
  private[graft] def pinnedIvfpq(corpus: DataFrame, cents: Array[Array[Float]],
                                 cbs: Array[Array[Array[Float]]],
                                 residual: Boolean = false): IVFPQ.Model = {
    val ivf = pinnedIvf(corpus, cents)
    IVFPQ.build(corpus, "vec_id", "embedding", ivf.centroids,
      ivf.clusterSizes, cbs, PQ.Params(m = 4, k = 16), residual)
  }

  /** Degenerate-exact HNSW config for the hnsw_*_exact lanes: one shard
    * + efSearch far above any verify-scale corpus (the layer-0 beam's
    * result heap then never evicts, so every reachable node is kept and
    * the search is exhaustive — HNSWSpec gates the equivalence; the
    * driver gate is the hnswExactKnnSql hash match). */
  private[graft] val hnswExactParams =
    HNSWGraph.Params(numLayers = 6, efConstruction = 100,
      efSearch = 1 << 17, m = 16)

  /** Degenerate-exact LSH forest for the lsh_*_exact lanes: one tree
    * whose root is the only leaf (maxNodeSize ≥ n), so search is
    * exhaustive (LSHForestSpec). dedupExact off: the SQL oracle keeps
    * duplicate vectors, so the build must too. */
  private[graft] val lshExactParams =
    LSHForest.Params(numTrees = 1, maxNodeSize = Int.MaxValue,
      dedupExact = false)

  /** Params of the three rows-only ANN lanes, shared with their
    * [[benchPhases]] twins. */
  private[graft] val hnswKnnParams =
    HNSWGraph.Params(numLayers = 6, efConstruction = 100, efSearch = 64, m = 16)
  private[graft] val lshKnnParams = LSHForest.Params(numTrees = 8, maxNodeSize = 64)
  private[graft] val ivfKmeansParams =
    IVFFlat.Params(k = 8, numAttempts = 2, maxIterations = 10)

  /** Pinned PQ codebooks for SQL-checkable queries: subspace s's
    * centroids are the s-th slices of the embeddings with vec_id < 16
    * (code value = source vec_id — the oracle's join key). */
  private[graft] def fixedCodebooks(emb: DataFrame, m: Int): Array[Array[Array[Float]]] =
    pinnedCodebooks(emb, m, col("embedding").cast("array<float>"))

  /** [[fixedCodebooks]] in the rotated FLOAT frame (pq_rot_fixed):
    * subspace slices of float32(rotate(embedding)) for vec_id < 16 —
    * the same frame [[graft.index.PQ]] encodes rotated corpora in. */
  private[graft] def fixedCodebooksRot(emb: DataFrame, m: Int): Array[Array[Array[Float]]] =
    pinnedCodebooks(emb, m, graft.functions.Rotate.rotate(
      col("embedding").cast("array<float>")).cast("array<float>"))

  /** The one codebook slicer: subspace s's centroids are the s-th of
    * `m` slices of `vec` over the rows with `idCol` < 16. */
  private def pinnedCodebooks(df: DataFrame, m: Int, vec: Column,
                              idCol: String = "vec_id"): Array[Array[Array[Float]]] = {
    val base = pinnedRows(df, idCol, 16, vec)
    // the pq oracle SQL (pqSliceSqSql / pqAssignCtesSql and the rotated
    // twins) hardcodes dim=64 slice bounds — fail loudly here rather
    // than hash-mismatch confusingly if the test corpus dim ever changes
    require(base(0).length == 64,
      s"pq oracle SQL assumes dim=64, got dim=${base(0).length}")
    val dsub = base(0).length / m
    Array.tabulate(m)(s => base.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /** Query tokens of the MaxSim lanes: docs 0–2 of `docs`, embedded,
    * doc_id renamed qid. */
  private[graft] def queryTokens(docs: DataFrame): DataFrame =
    LateInteraction.tokenVectors(docs.filter(col("doc_id") < 3),
        "doc_id", "text")
      .withColumnRenamed("doc_id", "qid")

  /** The bounded MaxSim corpus ([[tokenCorpus]]): `docs`, their token
    * frame `dToks` and the [[queryTokens]] `qToks`. `m` is the corpus
    * token count — the shortlist depth that covers every token, which
    * makes the ANN lanes degenerate-exact; one count job, run where a
    * lane first reads it. */
  private[graft] final case class TokenCorpus(docs: DataFrame, dToks: DataFrame,
                                              qToks: DataFrame) {
    lazy val m: Int = dToks.count().toInt
  }

  /** The maxsim_* lanes' fixture: the documents with doc_id < `nDocs`,
    * their token frame embedded once (localCheckpoint — every lane
    * reads it from more than one stage: build, save, add and the exact
    * rescore) and their query tokens. The corpus stays small because
    * the convergence pin's heap size IS the token count. */
  private[graft] def tokenCorpus(s: SparkSession, dir: String,
                                 nDocs: Int = 50): TokenCorpus = {
    val docs = tbl(s, dir, "documents").filter(col("doc_id") < nDocs)
    TokenCorpus(docs,
      LateInteraction.tokenVectors(docs, "doc_id", "text").localCheckpoint(true),
      queryTokens(docs))
  }

  /** The token-level IVF tier every maxsim_* ANN lane builds: 8 cells,
    * one k-means attempt (the lanes probe all cells, so cell quality
    * never moves a result). */
  private[graft] val tokenIvfParams =
    IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 5)

  /** BM25 query batch: docs with doc_id < `n`, text as qtext. */
  private[graft] def textQueries(docs: DataFrame, n: Int): DataFrame =
    docs.filter(col("doc_id") < n)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("knn_exhaustive")(spark, "/root/testdata/sf0.001")

  /** Quantize a money-like DOUBLE to integer `scale`-ths (half-up).
    * One double multiply + floor — bit-identical on Spark and DuckDB,
    * and the resulting BIGINT sums are order-independent (the
    * hash-portability contract; DECIMAL outputs are NOT portable:
    * DuckDB widens sum(DECIMAL(p,s)) to DECIMAL(38,s) vs Spark's
    * DECIMAL(p+10,s), and renders trailing zeros differently). */
  private def q(c: org.apache.spark.sql.Column, scale: Double) =
    floor(c.cast("double") * lit(scale) + lit(0.5d)).cast("long")

  /** PII-planting augmentation for the pii_* lanes: the synthetic
    * corpus has no natural PII, so append one deterministic instance
    * per doc_id residue class (email / dotted-quad / phone+ssn /
    * nothing). Replayed token-for-token by [[piiAugSql]] — every
    * function used (concat, lpad, %) is engine-portable.
    */
  private[graft] def piiAugmented(df: DataFrame): DataFrame = {
    val idS = col("doc_id").cast("string")
    val tail = when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(lit(" contact user"), idS, lit("@example.com now")))
      .when(pmod(col("doc_id"), lit(4L)) === 1,
        concat(lit(" host 10."), pmod(col("doc_id"), lit(200L)).cast("string"),
          lit(".0."), pmod(col("doc_id"), lit(250L)).cast("string"), lit(" up")))
      .when(pmod(col("doc_id"), lit(4L)) === 2,
        concat(lit(" call 415-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" ssn 123-45-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
      .otherwise(lit(""))
    df.withColumn("t", concat(col("text"), tail))
  }

  /** Formula-derived µs intervals over the events era for the
    * range-join lanes: lo = 2024-01-01 + ((key·salt) mod 28d) — all
    * exact integer arithmetic, replayed verbatim by the oracle.
    * Mostly sub-4h spans; every 97th key a 10-day outlier (exercises
    * the broadcast diversion); `emptyEvery` plants hi == lo rows
    * (must match nothing). */
  private[graft] def rangeJoinIntervals(orders: DataFrame,
                                        parity: Option[Int] = None,
                                        salt: Long = 7919L,
                                        emptyEvery: Long = 0L): DataFrame = {
    val base = orders.filter(col("o_orderkey") < 2000)
    val filtered = parity match {
      case Some(p) => base.filter(pmod(col("o_orderkey"), lit(2L)) === p)
      case None => base
    }
    val span = when(pmod(col("iid"), lit(97L)) === 0, lit(864000000000L))
      .otherwise((lit(600L) + pmod(col("iid"), lit(7L)) * lit(1800L)) *
        lit(1000000L))
    val spanOrEmpty =
      if (emptyEvery > 0L)
        when(pmod(col("iid"), lit(emptyEvery)) === 0, lit(0L)).otherwise(span)
      else span
    filtered
      .select(col("o_orderkey").as("iid"),
        (lit(1704067200000000L) +
          pmod(col("o_orderkey") * lit(salt), lit(2419200L)) *
          lit(1000000L)).as("lo"))
      .withColumn("hi", col("lo") + spanOrEmpty)
  }

  /** Pinned unigram vocabulary for the SQL-checkable tokenizer lanes:
    * full a–z coverage at −14 micro-log-prob-M, common bigrams at −11M,
    * trigrams at −9M — integer scores, so the Viterbi argmax is exact
    * arithmetic on both engines (the oracle enumerates all
    * segmentations in a recursive CTE and applies the identical
    * (score DESC, pieces ASC, path ASC) tie-break). */
  private[graft] val UnigramPinned: Array[graft.operators.Unigram.Piece] = {
    import graft.operators.Unigram.Piece
    val chars = ('a' to 'z').map(c => Piece(c.toString, -14000000L))
    val bi = Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")
      .map(Piece(_, -11000000L))
    val tri = Seq("the", "ing", "and", "ion", "ent", "ati")
      .map(Piece(_, -9000000L))
    (chars ++ bi ++ tri).toArray
  }

  /** The word frame both unigram lanes segment: pure-lowercase tokens
    * (≤ 12 chars — bounds the oracle's segmentation enumeration) of
    * the first 120 docs, with occurrence counts. */
  private[graft] def unigramWords(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 120)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]{1,12}$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Formula-pinned PNG fixture for the image-pHash lanes: 24 real
    * 64×64 PNGs — ids 0–7 smooth quadratic-hill "photos" (distinct
    * centers), 100–107 near-duplicates of them (sparse +6 luminance
    * perturbation — a re-encode-grade change), 200–207 unrelated
    * stripe patterns. Pixels are integer formulas and PNG is lossless,
    * so the decoded grids — and therefore the pHashes — are exact
    * across JVMs; the oracle pins the resulting 64-bit values. */
  private[graft] def imageFixtureRows(): Seq[(Long, Array[Byte])] = {
    def png(gray: (Int, Int) => Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 64) {
        var x = 0
        while (x < 64) {
          val g = math.max(0, math.min(255, gray(x, y)))
          im.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    // photo-like texture: 10 deterministic ±110 bumps per image (pHash
    // needs mid-frequency content — smooth polynomial fields project
    // onto so few DCT modes that distinct images collide)
    def photo(i: Int)(x: Int, y: Int): Int = {
      var g = 128
      var b = 0
      while (b < 10) {
        val h = mix64(i.toLong * 1000003L + b * 7919L + 17L)
        val cx = java.lang.Long.remainderUnsigned(h, 64L).toInt
        val cy = java.lang.Long.remainderUnsigned(h >>> 17, 64L).toInt
        val amp = if ((h >>> 40) % 2 == 0) 110 else -110
        val d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        if (d2 < 144) g += amp * (144 - d2) / 144
        b += 1
      }
      g
    }
    val bases = (0 until 8).map(i => (i.toLong, png(photo(i))))
    val nears = (0 until 8).map { i =>
      (100L + i, png((x, y) =>
        if (x >= 20 && x < 32 && y >= 20 && y < 32) photo(i)(x, y) + 10
        else photo(i)(x, y)))
    }
    val stripes = (0 until 8).map { i =>
      (200L + i, png((x, y) => (x * (i + 2) + y * (2 * i + 3)) % 256))
    }
    bases ++ nears ++ stripes
  }

  /** [[ImagePhashPinned]] rendered as SQL VALUES rows. */
  private def imagePhashValuesSql: String =
    ImagePhashPinned.map { case (id, p) => s"($id, $p)" }.mkString(", ")

  /** Formula-pinned WAV fixture for the audio-fingerprint lanes: 24
    * real 1-second 16-bit mono PCM WAVs — ids 0–7 square-wave tracks
    * whose per-window amplitude follows a seeded level sequence (the
    * energy envelope IS the identity), 100–107 near-duplicates (the
    * SAME track at half volume with one window's level nudged — the
    * re-master/re-encode change class), 200–207 unrelated level
    * sequences. PCM synthesis is integer math and the WAV container is
    * written by the JDK — [[graft.operators.Multimodal.audioHash64]]
    * over these is exact across JVMs, so the oracle pins the values. */
  private[graft] def audioFixtureRows(): Seq[(Long, Array[Byte])] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val rate = 8320 // 65 windows × 128 samples
    def wav(seed: Long, vol: Double, nudge: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](rate * 2)
      var w = 0
      while (w < 65) {
        var amp = 2000 + java.lang.Long.remainderUnsigned(
          mix64(seed * 9176L + w * 31L + 5L), 26000L).toInt
        if (nudge && w == 30) amp = amp * 11 / 10
        var t = 0
        while (t < 128) {
          val i = w * 128 + t
          // 260 Hz square: 16-sample half-period at 8320 Hz
          val s0 = if ((i / 16) % 2 == 0) amp else -amp
          val s = (s0 * vol).toInt
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          t += 1
        }
        w += 1
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate.toFloat, 16, 1, 2, rate.toFloat, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, rate.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val bases = (0 until 8).map(i => (i.toLong, wav(i + 1L, 1.0, nudge = false)))
    val nears = (0 until 8).map(i =>
      (100L + i, wav(i + 1L, 0.5, nudge = true)))
    val other = (0 until 8).map(i =>
      (200L + i, wav(1000L + i, 1.0, nudge = false)))
    bases ++ nears ++ other
  }

  /** The audio fixture's energy-delta fingerprints, pinned (same
    * contract as [[ImagePhashPinned]]): near-dups sit within 1 bit of
    * their base (half volume is hash-invariant — sign-of-delta survives
    * any monotone gain; only the nudged window can move bits),
    * unrelated tracks are ≥ 19 bits apart (measured). */
  private[graft] val AudioHashPinned: Seq[(Long, Long)] = Seq(
    0L -> 5950760944307180197L, 1L -> 5969140107757146468L,
    2L -> -6582949506726979947L, 3L -> 7685774463508042898L,
    4L -> -7375610752021715251L, 5L -> 5013446867751884141L,
    6L -> -2424808869645171017L, 7L -> -7378780594434857578L,
    100L -> 5950760944307180197L, 101L -> 5969140107757146468L,
    102L -> -6582949506726979947L, 103L -> 7685774463508042898L,
    104L -> -7375610752021715251L, 105L -> 5013446867751884141L,
    106L -> -2424808869645171017L, 107L -> -7378780595508599402L,
    200L -> -2716418675841912023L, 201L -> 8567348747763753322L,
    202L -> -6436372642351388070L, 203L -> 7735384627670062838L,
    204L -> -8442374491544054507L, 205L -> 5384666149530614444L,
    206L -> 3915198880592612716L, 207L -> -6452863231306322647L)

  private def audioHashValuesSql: String =
    AudioHashPinned.map { case (id, p) => s"($id, $p)" }.mkString(", ")

  /** WAV fixture for the SHIFT-ROBUST audio lanes — the dup class
    * [[audioFixtureRows]] can't express: ids 0–3 are 1-second tracks
    * whose amplitude re-rolls every 50 samples (a seeded envelope rich
    * enough that every 32-bit block sub-fingerprint is effectively
    * unique), 100–103 are the SAME signals with the first 0.125 s
    * REMOVED (the silence-trim / intro-clip dup — every global-hash
    * window boundary shifts, so [[graft.operators.Multimodal.audioHash64]]
    * diverges, while the fixed-duration block fingerprints align at a
    * constant 2-hop offset), 200–203 unrelated envelopes. Integer PCM
    * synthesis + JDK WAV container: block hashes are exact across
    * JVMs, so the oracle replays the whole pair join over them. */
  private[graft] def audioShiftFixtureRows(): Seq[(Long, Array[Byte])] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val rate = 8000
    // `skip` trims the head of the UN-shifted signal: sample i of the
    // output is sample i+skip of the seed's infinite envelope, so a
    // trimmed track is bit-identical to its base over the overlap
    def wav(seed: Long, nSamples: Int, skip: Int): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val src = i + skip
        val amp = 2000 + java.lang.Long.remainderUnsigned(
          mix64(seed * 7919L + (src / 50) * 131L + 17L), 26000L).toInt
        // 250 Hz square carrier: 16-sample half-period at 8 kHz
        val s = if ((src / 16) % 2 == 0) amp else -amp
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate.toFloat, 16, 1, 2, rate.toFloat, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val bases = (0 until 4).map(i => (i.toLong, wav(i + 1L, 8000, 0)))
    val trimmed = (0 until 4).map(i => (100L + i, wav(i + 1L, 7000, 1000)))
    val other = (0 until 4).map(i => (200L + i, wav(3000L + i, 8000, 0)))
    bases ++ trimmed ++ other
  }

  /** The shift fixture's block sub-fingerprints rendered as VALUES
    * rows — computed by the DETERMINISTIC kernel at oracle-dump time
    * (integer PCM, exact float reduction), same trust model as the
    * pinned-literal hashes: the oracle independently replays
    * everything DOWNSTREAM (df cap → anchor join → offset vote) in
    * SQL. The kernel itself is pinned by MultimodalVecSpec. */
  private lazy val audioBlockValuesSql: String =
    audioShiftFixtureRows().flatMap { case (id, bytes) =>
      graft.operators.Multimodal.audioBlockHashes(bytes).get.map {
        case (blk, fp) => s"($id, $blk, $fp)"
      }
    }.mkString(", ")

  /** The fixture's pHashes, pinned: pixel formulas are integers, PNG is
    * lossless, and [[graft.operators.Multimodal.phash64]] uses
    * StrictMath — the values are exact across JVMs, so the oracle can
    * carry them as literals and independently replay everything
    * DOWNSTREAM of the hash (the pigeonhole pair join) in SQL.
    * Near-dups (100+i) sit within 3 bits of their base; distinct
    * images are ≥ 12 bits apart (measured; the lanes' maxHamming = 6
    * threshold splits them with margin). Values are the DIHEDRAL
    * CANONICAL hashes (content-chosen orientation over the
    * box-filtered grid — r10). */
  private[graft] val ImagePhashPinned: Seq[(Long, Long)] = Seq(
    0L -> 223404980991616767L, 1L -> 478432804322306873L,
    2L -> 3459635640682308039L, 3L -> -8134531494580604573L,
    4L -> 219283409942094839L, 5L -> -7455834139664227025L,
    6L -> -31542063814817949L, 7L -> 5739267420346179945L,
    100L -> 223404980991616767L, 101L -> 181054491427498809L,
    102L -> 3468642839937049031L, 103L -> -8134390757092249245L,
    104L -> 219283409942094839L, 105L -> -7455834139664227025L,
    106L -> -31533269869279389L, 107L -> 5667209826308252009L,
    200L -> 1089659990588273083L, 201L -> 3864102945784484875L,
    202L -> -2229471996747875031L, 203L -> 8785952167810979827L,
    204L -> 5807406584594500869L, 205L -> 8077786035968937355L,
    206L -> -727905396728662555L, 207L -> -5341069731096889887L)

  /** Writes the jsonl_* fixture: 40 formula-pinned lines — ids 0–19 in
    * a plain shard, 20–39 gzipped (the published-corpus shape), every
    * 9th line truncated mid-string. Returns the directory. */
  private[graft] def jsonlFixture(): String = {
    def line(i: Int): String =
      if (i % 9 == 4) s"""{"id": $i, "text": "truncat"""
      else {
        val lang = Seq("en", "de", "fr")(i % 3)
        s"""{"id": $i, "text": "doc $i body", "meta": {"lang": "$lang", "stars": ${i * 3 % 7}}}"""
      }
    val d = java.nio.file.Paths.get(scratchDir("jsonl_lane"))
    java.nio.file.Files.writeString(d.resolve("part-0.jsonl"),
      (0 until 20).map(line).mkString("", "\n", "\n"))
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(d.resolve("part-1.jsonl.gz")))
    gz.write((20 until 40).map(line).mkString("", "\n", "\n").getBytes("UTF-8"))
    gz.close()
    d.toString
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  /** bucket_join_colocated's one-time layout: orders and lineitem, each
    * written hash-bucketed 8 ways on the order key under `base` as the
    * catalog tables `to` and `tl` (sources/Bucketed). */
  private def writeColocated(s: SparkSession, dir: String, base: String,
                             to: String, tl: String): Unit = {
    graft.sources.Bucketed.write(
      tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      to, s"$base/orders", numBuckets = 8, bucketCol = "o_orderkey")
    graft.sources.Bucketed.write(
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      tl, s"$base/lineitem", numBuckets = 8, bucketCol = "l_orderkey")
  }

  /** The join + same-key aggregate over [[writeColocated]]'s tables —
    * bucket_join_colocated's plan, which its [[benchPhases]] twin times
    * as the search phase. */
  private def colocatedJoinAgg(s: SparkSession, to: String, tl: String): DataFrame = {
    val o = graft.sources.Bucketed.table(s, to)
    val l = graft.sources.Bucketed.table(s, tl)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(sum(q(col("l_quantity"), 100.0)).as("sum_qty_c"),
        sum(q(col("l_extendedprice"), 100.0)).as("sum_price_c"),
        count(lit(1)).as("n"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H-Q1-shaped pricing summary: grouped sums as fixed-point
    // BIGINT cents (exact, order-independent → hash-stable across
    // engines; DECIMAL sums are not driver-hash-portable).
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(q(col("l_quantity"), 100.0)).as("sum_qty_c"),
          sum(q(col("l_extendedprice"), 100.0)).as("sum_base_price_c"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H-Q3-shaped join: customer ⋈ orders ⋈ lineitem, revenue per
    // order for one segment, top-10. Dimension sides broadcast; revenue
    // as fixed-point BIGINT 10⁻⁴ units: cents(price) × (100 − cents%(disc))
    // is pure integer math after one portable quantization per column.
    "q3_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      // only the filtered dimension is broadcast; orders is a fact table
      // (scales with sf) and must shuffle-join — AQE picks the strategy
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(q(col("l_extendedprice"), 100.0) *
          (lit(100L) - q(col("l_discount"), 100.0))).as("revenue_u4"))
        .orderBy(col("revenue_u4").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Salted skew join: the planned mitigation for a hot join key —
    // lineitem spreads each order's rows over 8 salt sub-keys
    // (content-addressed from the line number) while orders replicates
    // ×8, so a pathological order would occupy 8 reducers instead of
    // one. Result is IDENTICAL to the plain join (the oracle is the
    // un-salted SQL); PlanSpec gates that __salt actually reaches the
    // exchange keys.
    "join_salted" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"))
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.operators.Joins.saltedJoin(l, o, Seq("okey"),
          concat_ws("_", col("okey"), col("l_linenumber")), s = 8)
        .groupBy(col("o_orderpriority"))
        .agg(sum(q(col("l_extendedprice"), 100.0) *
            (lit(100L) - q(col("l_discount"), 100.0))).as("revenue_u4"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // Bucketed co-located join: both fact tables written ONCE, hash-
    // bucketed 8 ways on the join key (sources/Bucketed — one file per
    // bucket, sorted), then read back through the catalog so
    // scan → SortMergeJoin → same-key agg all reuse the bucket
    // partitioning: ZERO Exchange operators in the whole plan
    // (BucketedSpec gates the exchange-free plan against a shuffling
    // non-bucketed twin). This is the layout that deletes the
    // per-query double fact-table shuffle at 100 TB; the oracle gates
    // values — bucketed ≡ the plain join it replaces.
    "bucket_join_colocated" -> ((s, dir) => {
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val base = scratchDir("bucket_join")
      val (to, tl) = (s"graft_bko_$run", s"graft_bkl_$run")
      writeColocated(s, dir, base, to, tl)
      colocatedJoinAgg(s, to, tl).orderBy(col("l_orderkey"))
    }),

    // Per-supplier top-3 lineitems by extended price — the window top-k
    // shape every per-group-k operator in the engine reduces to
    // (SURVEY §2.9 window note). Deterministic tie-breaks; price in
    // BIGINT cents (per-row DECIMAL rendering is not hash-portable).
    "window_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      tbl(s, dir, "lineitem")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("l_suppkey"), col("rk"), col("l_orderkey"),
          q(col("l_extendedprice"), 100.0).as("price_c"))
        .orderBy(col("l_suppkey"), col("rk"))
    }),

    // Exhaustive top-10 by squared L2 for 5 query vectors — the reference's
    // oracle (utils.rs:68-82) as a broadcast kNN join (SURVEY §2.7).
    "knn_exhaustive" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Exhaustive.knnJoin(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, metric = "sqdist")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Same shape under cosine distance (1 − a·b on pre-normalized vectors,
    // the HNSW metric, base.rs:128-156).
    "knn_cosine" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Exhaustive.knnJoin(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, metric = "cosine")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Matryoshka serving: shortlist on the first 16 of 64 dims (a
    // 4×-smaller scan when the prefix is its own column), exact
    // re-rank on the full vector — deterministic end-to-end (both
    // stages tie-break by id), so the two-stage plan is replayed
    // verbatim in the oracle. dPrefix = d reproduces knn_exhaustive
    // bit-for-bit (ExhaustiveSpec gate).
    "knn_matryoshka" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Exhaustive.knnJoinMatryoshka(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, dPrefix = 16, factor = 4,
          metric = "sqdist")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // The MIPS 100 TB path: norm-augmentation (operators.Mips) turns
    // the L2 IVF index into an exact MIPS index — augmented sqdist
    // rank IS inner-product rank. Probe-all over pinned augmented
    // centroids makes it deterministic; the output recomputes −dot
    // over the ORIGINAL vectors, so the same knn_mips oracle gates the
    // whole reduction end-to-end.
    "mips_ivf_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val m = graft.operators.Mips.maxNorm(emb, "embedding")
      val aug = graft.operators.Mips.augmentCorpus(emb, "embedding", m)
      val model = pinnedIvf(aug, fixedCentroids(aug))
      val qAug = graft.operators.Mips.augmentQueries(
        emb.filter(col("vec_id") < 5), "embedding")
      val hits = model.searchMany(qAug, "vec_id", "embedding",
        k = 10, nprobe = model.params.k)
      graft.operators.Mips.withDotDistance(hits,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Metadata-filtered ANN (the vector-DB "where" clause): top-10
    // among rows with label = 2 only. Declarative composition — the
    // label predicate reaches the parquet scan as a PushedFilter BELOW
    // the knn join (plan-gated), so a selective filter shrinks the
    // scan, not just the candidates.
    "knn_filtered" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Exhaustive.knnJoin(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          emb.filter(col("label") === 2), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Maximum-inner-product top-10 (recommendation serving): negated
    // dot through the shared ascending top-k drain, so `distance` is
    // -(a·b) and row 1 is the largest inner product.
    "knn_mips" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Exhaustive.knnJoin(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, metric = "negdot")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Exact dedup, keep-first (lsh.rs:113-130 semantics on text docs):
    // group-by full content, keep the smallest id.
    "dedup_exact" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // Vector kernels per row: magnitude and magnitude-after-normalize
    // (exercises dot/magnitude/normalizeF incl. the 1e-6 guard,
    // base.rs:91-105) — scalar doubles, bit-identical to the oracle.
    "vec_kernels" -> ((s, dir) => {
      tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          magnitude(col("embedding")).as("mag"),
          magnitude(normalizeF(col("embedding"))).as("norm_mag"))
        .orderBy(col("vec_id"))
    }),

    // SQL surface of the codegen kernels (GraftExtensions): the same
    // fused SqDistExpr/DotExpr expressions reached through spark.sql
    // text instead of the Column API — gates that the registered
    // functions resolve, typecheck and compute bit-identically to the
    // kernels the rest of the engine uses (base.rs:91-126 semantics).
    "vec_kernels_sql" -> ((s, dir) => {
      GraftExtensions.register(s)
      tbl(s, dir, "embeddings").createOrReplaceTempView("graft_sql_emb")
      s.sql("""SELECT vec_id,
              |  graft_sqdist(embedding, reverse(embedding)) AS sqd_rev,
              |  graft_dot(embedding, embedding) AS dot_self,
              |  graft_cosine_distance(embedding, reverse(embedding)) AS cos_rev
              |FROM graft_sql_emb ORDER BY vec_id""".stripMargin)
    }),

    // Per-vector affine int8 quantization round-trip (functions.Quant):
    // the embedding-storage scale path — range, code checksum, and the
    // max dequantization error per vector, all engine-portable math
    // (floor-based rounding, no round()).
    "embed_int8" -> ((s, dir) => {
      import graft.functions.Quant
      val v = col("embedding")
      tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          size(v).cast("long").as("n_dims"),
          Quant.int8Lo(v).as("lo"),
          Quant.int8Hi(v).as("hi"),
          aggregate(Quant.int8Codes(v), lit(0L), (a, c) => a + c)
            .as("code_sum"),
          Quant.int8MaxAbsErr(v).as("max_abs_err"))
        .orderBy(col("vec_id"))
    }),

    // SQ8 serving tier (index/SQ8): IVF cells over PACKED int8 codes —
    // 1 byte/dim in the scan instead of 4. Probing every cell makes
    // the search exact over the dequantized corpus, so DuckDB
    // reproduces quantize→dequantize→exhaustive bit-for-bit (floor
    // rounding + 0.0-seeded double folds) — the whole
    // compress→probe→fused-byte-kernel path driver-gated.
    "sq8_search_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val sq8 = graft.index.SQ8.compress(pinnedIvf(emb, cents))
      sq8.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Radius search on the SQ8 tier (the compressed dup-sweep): the
    // inclusive radius filter runs inside the byte-code scan; probing
    // every cell makes it EXACTLY the radius sweep over the
    // dequantized corpus, which DuckDB replays bit-for-bit
    // (quantize → dequantize → filter, the sq8_search_all idiom).
    "sq8_range_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val sq8 = graft.index.SQ8.compress(pinnedIvf(emb, cents))
      sq8.rangeSearchMany(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", radius = 1.8, nprobe = cents.length)
        .orderBy(col("qid"), col("id"))
    }),

    // Radius search on the BQ tier: 1-bit shortlist (probe-all, slack
    // ∞ ⇒ shortlist ⊇ probed corpus) + exact float re-rank + radius
    // filter — shortlist ⊇ corpus makes it the exhaustive radius
    // sweep, so the range_search oracle replays it verbatim.
    "bq_range_rerank" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      bq.rangeSearchRefined(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", radius = 1.8, emb, "vec_id", "embedding",
          nprobe = cents.length)
        .orderBy(col("qid"), col("id"))
    }),

    // Radius search on the composed IVF-PQ tier (FAISS IndexIVFPQ
    // .range_search's shape): ADC estimate prunes inside the m-byte
    // code scan at a slack threshold, survivors re-rank exactly, the
    // radius filter runs over exact distances. Probe-all + slack ∞
    // passes every code to the exact pass — the exhaustive radius
    // sweep, so the bq_range_rerank oracle replays it verbatim.
    "pq_ivf_range_rerank" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvfpq(emb, cents, fixedCodebooks(emb, 4))
      model.rangeSearchRefined(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", radius = 1.8, emb, "vec_id", "embedding",
          nprobe = cents.length)
        .orderBy(col("qid"), col("id"))
    }),

    // SQ8 lifecycle: compress → save (codes partitioned by cluster) →
    // load → probe-all search, same exact-over-dequantized oracle.
    "sq8_persist_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val sq8 = graft.index.SQ8.compress(pinnedIvf(emb, cents))
      val tmp = scratchDir("sq8_persist")
      sq8.save(tmp)
      val re = graft.index.SQ8.load(s, tmp)
      re.copy(clusterSizes = re.clusterSizes.map(_ => Long.MaxValue))
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = re.params.k)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for SQ8 (cross-job compaction): two
    // compressed halves under the SAME frozen centroids merge into one
    // index whose code table equals the single build's — the probe-all
    // exact oracle then gates merge hash-for-hash.
    "sq8_merge_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      def half(cond: Column) =
        graft.index.SQ8.compress(pinnedIvf(emb.filter(cond), cents))
      half(col("vec_id") % 2 === 0).merge(half(col("vec_id") % 2 === 1))
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // SQ8 + exact re-rank, degenerate config (shortlist ⊇ corpus ⇒
    // equals float exhaustive bit-for-bit): gates the byte-shortlist →
    // float-re-rank serving shape under the plain exhaustive oracle.
    "sq8_rerank_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val sq8 = graft.index.SQ8.compress(pinnedIvf(emb, cents))
      sq8.searchManyRefined(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, factor = 1000, emb, "vec_id", "embedding",
          nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // BQ serving tier (index/BQ): IVF cells over 1-BIT sign codes —
    // the 32×-compression end of the curve SQ8 starts. Probing every
    // cell makes the first-pass scores exact functions of the sign
    // pattern, which DuckDB reproduces from the raw floats (bit i = 1
    // iff xᵢ > 0): symmetric Hamming = count of sign disagreements,
    // asymmetric = −Σ qᵢ·(±1). Both whole paths driver-gated.
    "bq_hamming_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      bq.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Asymmetric BQ score (float query vs sign code) — strictly more
    // informative than Hamming for a float query; same probe-all gate.
    "bq_asym_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      bq.searchManyAsym(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Quantized corpus-scale kNN join: BQ.knnJoinAsym at probe-all over
    // EVERY query row — the 32×-fewer-scan-bytes kNN-graph first pass,
    // shuffle-joined (no broadcast), cut by TopKAggExpr partials.
    "bq_knn_join_asym_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      // |corpus|² self-kNN over codes — widen like ivf_knn_join_all
      val bq = graft.index.BQ.compress(pinnedIvf(Scaling.widen(emb), cents))
      bq.knnJoinAsym(emb, "vec_id", "embedding", k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // The two-stage corpus-scale shape: bit shortlist + exact float
    // re-rank with no broadcast on either side. Shortlist ⊇ corpus at
    // verify scale ⇒ equals float exhaustive bit-for-bit.
    "bq_knn_join_rerank" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      bq.knnJoinRefined(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
          k = 10, factor = 50, emb, "vec_id", "embedding",
          nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for BQ: two sign-code halves under the
    // SAME frozen centroids merge into the single build's code table —
    // the probe-all asymmetric oracle gates merge hash-for-hash.
    "bq_merge_asym_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      def half(cond: Column) =
        graft.index.BQ.compress(pinnedIvf(emb.filter(cond), cents))
      half(col("vec_id") % 2 === 0).merge(half(col("vec_id") % 2 === 1))
        .searchManyAsym(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Residual BQ (BQ.compressResidual): sign bits of v − centroid(cell)
    // — the within-cell discriminator plain sign codes lack on
    // clustered data (0.19 → 0.95 recall@10 on the 100k clustered
    // smoke). Probe-all asym gate: distance = −Σ (q−c)ᵢ·sign((v−c)ᵢ)
    // with both differences double-widened — SQL replicates cell
    // assignment (fixed centroids) and the signed fold exactly.
    "bq_res_asym_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compressResidual(pinnedIvf(emb, cents))
      bq.searchManyAsym(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // BQ + exact re-rank, degenerate config (shortlist ⊇ corpus ⇒
    // equals float exhaustive bit-for-bit): gates the bit-shortlist →
    // float-re-rank serving shape under the plain exhaustive oracle.
    "bq_rerank_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      bq.searchManyRefined(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, factor = 1000, emb, "vec_id", "embedding",
          nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // BQ lifecycle: compress → save (codes partitioned by cluster) →
    // load → probe-all Hamming search, same sign-pattern oracle.
    "bq_persist_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      val tmp = scratchDir("bq_persist")
      bq.save(tmp)
      val re = graft.index.BQ.load(s, tmp)
      re.copy(clusterSizes = re.clusterSizes.map(_ => Long.MaxValue))
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = re.params.k)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // ROTATED BQ (BQ.compress(rotated=true)): sign bits taken on the
    // FWHT-rotated vector — the anisotropy repair composed INTO the
    // tier (VERDICT r7 item 1: users previously had to pre-rotate by
    // hand). Probe-all asym gate: the oracle rotates corpus and query
    // with the proven vec_rotate cascade, then folds −Σ rot(q)ᵢ·±1.
    "bq_rot_asym_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents), rotated = true)
      bq.searchManyAsym(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // ROTATED SQ8 with a persistence round-trip: quantize the rotated
    // frame (per-vector affine range over uniformly-spread energy),
    // save → load (gating the persisted `rotated` flag), probe-all
    // search — exact over the rotated-dequantized corpus, which the
    // oracle replays rotation-then-quantization bit-for-bit.
    "sq8_rot_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val sq8 = graft.index.SQ8.compress(pinnedIvf(emb, cents), rotated = true)
      val tmp = scratchDir("sq8_rot")
      sq8.save(tmp)
      val re = graft.index.SQ8.load(s, tmp)
      re.copy(clusterSizes = re.clusterSizes.map(_ => Long.MaxValue))
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = re.params.k)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // ROTATED PQ against PINNED rotated codebooks: corpus, codebooks
    // and queries all live in the rotated FLOAT frame (rotate in
    // double, round to float32 — the coordinate contract the oracle
    // replays as CAST(x AS REAL)); then the standard assign + ADC.
    "pq_rot_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding",
        fixedCodebooksRot(emb, 4), graft.index.PQ.Params(m = 4, k = 16),
        rotated = true)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // PQ under an ARBITRARY-R rotation (the OPQ serving shape,
    // index/Opq): corpus and queries pre-rotate through the pinned
    // 3-4-5 Givens/permutation matrix (exact-literal entries — the
    // TRAINED R from Opq.train serves identically but its SVD isn't
    // SQL-replayable; OpqSpec gates training), codebooks are slices of
    // the rotated first 16, then plain ADC. The oracle rebuilds the
    // rotated frame per-dim from the same ±0.6/±0.8 formula.
    "pq_opq_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val r = graft.index.Opq.pythagoreanR(64)
      val rotated = graft.index.Opq.rotateFrame(emb, "vec_id", "embedding", r)
        .localCheckpoint(true)
      val model = graft.index.PQ.withCodebooks(rotated, "id", "vector",
        pinnedCodebooks(rotated, 4, col("vector"), idCol = "id"),
        graft.index.PQ.Params(m = 4, k = 16))
      model.searchMany(rotated.filter(col("id") < 5), "id", "vector", 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // OPQ ONE-CALL LIFECYCLE: the same pinned-R trained bundle as
    // pq_opq_fixed, but round-tripped through Opq.save/load (rotation
    // + codebooks + params in one dir) before serving — the persisted
    // artifact must produce the identical ADC top-k (same oracle SQL).
    "pq_opq_persist_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val r = graft.index.Opq.pythagoreanR(64)
      val rotated0 = graft.index.Opq.rotateFrame(emb, "vec_id", "embedding", r)
        .localCheckpoint(true)
      val trained = graft.index.Opq.Trained(r,
        pinnedCodebooks(rotated0, 4, col("vector"), idCol = "id"),
        graft.index.PQ.Params(m = 4, k = 16))
      val tmp = scratchDir("opq_persist")
      graft.index.Opq.save(trained, s, tmp)
      val back = graft.index.Opq.load(s, tmp)
      // serve ENTIRELY from the loaded bundle: re-rotate with the
      // loaded R, encode against the loaded codebooks
      val rotated = graft.index.Opq.rotateFrame(emb, "vec_id", "embedding", back.r)
        .localCheckpoint(true)
      val model = graft.index.PQ.withCodebooks(rotated, "id", "vector",
        back.cbs, back.params)
      model.searchMany(rotated.filter(col("id") < 5), "id", "vector", 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Structured orthogonal rotation (functions/Rotate): y = (1/√d)HDx
    // — the OPQ-lite preprocessing that balances energy across
    // subspaces for PQ and makes sign bits informative for BQ. Gated
    // per-row via checksum AND rotated squared norm (the orthogonality
    // witness: norm2_rot replays ‖x‖ up to float rounding); D's signs
    // are md5-addressed and the butterflies are stage-ordered double
    // adds, so DuckDB replays the whole transform bit-for-bit.
    "vec_rotate" -> ((s, dir) => {
      def v = graft.functions.Rotate.rotate(col("embedding"))
      tbl(s, dir, "embeddings").select(col("vec_id"),
          aggregate(v, lit(0.0d), (a, x) => a + x).as("chk"),
          aggregate(v, lit(0.0d), (a, x) => a + x * x).as("norm2_rot"))
        .orderBy(col("vec_id"))
    }),

    // Elementwise arithmetic kernels (base.rs:62-111: add, subtract_from,
    // divide_by_scalar, average/midpoint) against the row's own reversed
    // vector, reduced to per-row double checksums (0.0-seeded left fold —
    // the portable per-row shape; float-array outputs would hash on
    // rendering, scalars don't).
    "vec_arith" -> ((s, dir) => {
      val a = col("embedding").cast("array<double>")
      val b = reverse(col("embedding")).cast("array<double>")
      def chk(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0d), (acc, x) => acc + x)
      tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          chk(vecAdd(a, b)).as("s_add"),
          chk(vecSub(a, b)).as("s_sub"),
          chk(vecDivScalar(a, lit(2.5d))).as("s_div"),
          chk(vecMidpoint(a, b)).as("s_mid"))
        .orderBy(col("vec_id"))
    }),

    // IVFFlat cluster assignment against FIXED centroids (vectors with
    // vec_id < 8): the argmin-sqdist kernel of ivfflat.rs:29-46, made
    // SQL-checkable by pinning the centroids (trained centroids are
    // exercised in ScalaTest instead — not SQL-reproducible).
    "ivf_assign" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      IVFFlat.assign(emb, "vec_id", "embedding", cents)
        .select(col("id"), col("cluster"))
        .orderBy(col("id"))
    }),

    // Embedding-column QC (operators/EmbedQC): per-cluster mean+2σ
    // distance outliers against the pinned centroids, the whole rule
    // in exact integer arithmetic over µ-quantized squared distances —
    // the oracle replays assignment, quantization, and the
    // multiplied-through k-sigma inequality verbatim.
    "embed_outliers" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.operators.EmbedQC.outliers(emb, "vec_id", "embedding",
          fixedCentroids(emb), kSigma = 2)
        .orderBy(col("id"))
    }),

    // Product-quantization encode against PINNED codebooks (subspace
    // slices of the first 16 embeddings, m=4): per-subspace argmin-sqdist
    // code per row — the corpus-scale compression operator, made
    // SQL-checkable the same way as ivf_assign (trained codebooks are
    // exercised in PQSpec — Lloyd's is not SQL-reproducible).
    "pq_assign_fixed" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val model = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding",
        fixedCodebooks(emb, 4), graft.index.PQ.Params(m = 4, k = 16))
      model.codes.as[(Long, Array[Byte])]
        .map { case (id, c) =>
          (id, c(0) & 0xFF, c(1) & 0xFF, c(2) & 0xFF, c(3) & 0xFF) }
        .toDF("id", "c0", "c1", "c2", "c3")
        .orderBy(col("id"))
    }),

    // PQ asymmetric-distance (ADC) top-10 for 5 queries over the pinned
    // codes: distance = left-fold of per-subspace LUT sqdists — search
    // runs over one-byte codes only, never the vectors.
    "pq_adc_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding",
        fixedCodebooks(emb, 4), graft.index.PQ.Params(m = 4, k = 16))
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // PQ persistence round-trip under the driver oracle (base.rs:31-58
    // lifecycle, the ivf_persist_fixed shape for the compressed index):
    // encode with pinned codebooks, save, LOAD, ADC-search the loaded
    // model — a faithful round-trip reproduces pq_adc_fixed bit-for-bit.
    "pq_persist_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding",
        fixedCodebooks(emb, 4), graft.index.PQ.Params(m = 4, k = 16))
      val tmp = scratchDir("pq_persist")
      model.save(tmp)
      graft.index.PQ.load(s, tmp)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for flat PQ: two encodes over disjoint
    // halves under the SAME pinned codebooks merge into the single
    // build's code table — the pq_adc_fixed oracle gates merge.
    "pq_merge_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cbs = fixedCodebooks(emb, 4)
      val p = graft.index.PQ.Params(m = 4, k = 16)
      val a = graft.index.PQ.withCodebooks(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cbs, p)
      val b = graft.index.PQ.withCodebooks(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", cbs, p)
      a.merge(b)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // ADC shortlist + exact re-rank, degenerate config: factor×k = 500
    // covers the whole sf0.01 corpus, so the re-rank stage must
    // reproduce exhaustive search bit-for-bit — gates the shortlist
    // join + exact-distance re-rank composition under the existing
    // exhaustive oracle (the lsh_knn_exact trick for the PQ serving
    // path).
    "pq_rerank_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding",
        fixedCodebooks(emb, 4), graft.index.PQ.Params(m = 4, k = 16))
      model.searchManyRefined(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, factor = 50, emb, "vec_id", "embedding")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Takedown under the driver oracle: remove every 9th-mod-3 row
    // from the pinned-centroid index, search — must equal the fixed
    // search over corpus-minus-removed exactly (Model.remove is an
    // anti-join; the SQL filters the assigned CTE identically).
    "ivf_remove_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb, cents)
        .remove(emb.filter(col("vec_id") % 9 === 3), "vec_id")
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // IVF-PQ composed search against the SAME pinned parts (centroids
    // vec_id < 8, codebooks vec_id < 16): probe the 2 nearest cells,
    // ADC over the codes inside probed cells only, top-10 — the
    // probed-cell composition (ivfflat.rs:153-198 routing × PQ ADC)
    // made SQL-checkable by pinning both models.
    "pq_ivf_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvfpq(emb, cents, fixedCodebooks(emb, 4))
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Index::add driver gate for the composed index: build on ~6/7 of
    // the corpus, Model.add the rest. add() runs the same fused frozen
    // assign+encode as build, so the final index state — and therefore
    // the search result — must equal the full build's, and the SAME
    // pq_ivf oracle SQL gates the add path hash-for-hash
    // (ivfflat.rs:200-213 add semantics at the composed level).
    "pq_ivf_add_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvfpq(emb.filter(col("vec_id") % 7 =!= 0), cents,
          fixedCodebooks(emb, 4))
        .add(emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // RESIDUAL IVF-PQ with every part pinned: codes quantize
    // v − centroid(cell) against the fixed codebooks, the query LUT
    // shifts by each probed cell's centroid — the standard IVF-PQ
    // recipe (the one that lifted 1M ADC recall 0.340 → 0.621,
    // BASELINE round 6), now under the DuckDB oracle. Float residual
    // subtraction and the double ADC fold are replicated exactly in
    // pqIvfResFixedSql.
    "pq_ivf_res_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvfpq(emb, cents, fixedCodebooks(emb, 4), residual = true)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // the IVFPQ re-rank twin: probe ALL pinned cells + whole-corpus
    // shortlist — must equal exhaustive exactly (pq_rerank_exact shape
    // for the composed index).
    "pq_ivf_rerank_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvfpq(emb, cents, fixedCodebooks(emb, 4))
      model.searchManyRefined(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, factor = 50, nprobe = cents.length,
          emb, "vec_id", "embedding")
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for the composed index: two fused builds
    // over disjoint slices under the SAME pinned parts merge into the
    // single build's code table — pq_ivf_fixed's oracle gates merge.
    "pq_ivf_merge_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val cbs = fixedCodebooks(emb, 4)
      val a = pinnedIvfpq(emb.filter(col("vec_id") % 7 =!= 0), cents, cbs)
      val b = pinnedIvfpq(emb.filter(col("vec_id") % 7 === 0), cents, cbs)
      a.merge(b)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // IVF-PQ persistence round-trip under the driver oracle — the last
    // oracle-able index type's lifecycle gate (IVF/LSH/PQ already have
    // one): build with pinned parts, save (partitioned codes + params
    // JSON), LOAD, probed ADC search — a faithful round-trip reproduces
    // pq_ivf_fixed bit-for-bit (base.rs:31-58 lifecycle).
    "pq_ivf_persist_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvfpq(emb, cents, fixedCodebooks(emb, 4))
      val tmp = scratchDir("pq_ivf_persist")
      model.save(tmp)
      graft.index.IVFPQ.load(s, tmp)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // IVFFlat probed search against the same fixed centroids: 5 queries,
    // probe the 2 nearest clusters, exact re-rank, top-10
    // (ivfflat.rs:153-198 shape, deterministic end-to-end).
    "ivf_search_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb, cents)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Metadata-filtered ANN on the INDEX tier (the vector-DB "where"
    // clause at the serving layer, knn_filtered's probed twin): the
    // predicate restricts the indexed frame BELOW the probe join —
    // composable because index row state IS a DataFrame, so filtered
    // serving costs one narrow filter, not a rebuild.
    "ivf_search_filtered" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb.filter(col("label") === 2), cents)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Index::add driver gate for IVFFlat (ivfflat.rs:200-213): assign
    // ~6/7 of the corpus, Model.add the rest against the frozen
    // centroids — end state equals the full assignment, so the
    // ivf_search_fixed oracle gates the add path hash-for-hash.
    "ivf_add_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb.filter(col("vec_id") % 7 =!= 0), cents)
        .add(emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for IVFFlat (cross-job compaction): the
    // receiver holds ~6/7 of the corpus on the pinned centroids; the
    // argument holds the rest clustered under a DIFFERENT grid, so
    // merge exercises the stronger path — re-assignment of the incoming
    // rows under the surviving centroids. End state equals the full
    // assignment, so the ivf_search_fixed oracle gates merge
    // hash-for-hash.
    "ivf_merge_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val a = pinnedIvf(emb.filter(col("vec_id") % 7 =!= 0), cents)
      // the other job clustered under its own grid (vectors 8..15) —
      // bitwise-different centroids force the re-assign branch
      val bCents = pinnedRows(emb, "vec_id", 16,
        col("embedding").cast("array<float>"), from = 8)
      val b = IVFFlat.Model(IVFFlat.Params(bCents.length), bCents,
        new Array[Long](bCents.length),
        IVFFlat.assign(emb.filter(col("vec_id") % 7 === 0),
          "vec_id", "embedding", bCents))
      a.merge(b)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // The grid-union merge twin (IVFFlat.mergeGridUnion): both trained
    // grids survive side by side — metadata-only merge, a narrow
    // renumber over the incoming rows. Probing ALL cells of the
    // combined grid is exhaustive over the union corpus, so the plain
    // knn oracle gates the whole renumber+union+search path.
    "ivf_merge_union_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val a = pinnedIvf(emb.filter(col("vec_id") % 7 =!= 0), cents)
      val bCents = pinnedRows(emb, "vec_id", 16,
        col("embedding").cast("array<float>"), from = 8)
      val b = pinnedIvf(emb.filter(col("vec_id") % 7 === 0), bCents)
      val m = a.mergeGridUnion(b)
      m.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = m.params.k)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Persistence round-trip under the driver oracle — the
    // save→load→search lifecycle every production index performs
    // (base.rs:31-58; utils.rs:140-148 runs it in every reference
    // test): build on the fixed centroids, save (parquet partitioned
    // by cluster + params JSON with sidecar sizes) to a temp dir,
    // LOAD, search the loaded model. Loaded cluster sizes are pinned
    // back to the same force-exactly-nprobe contract the build-side
    // config uses — the ivf_search_fixed oracle then gates the whole
    // lifecycle hash-for-hash.
    "ivf_persist_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val tmp = scratchDir("ivf_persist")
      pinnedIvf(emb, cents).save(tmp)
      val re = IVFFlat.load(s, tmp)
      re.copy(clusterSizes = re.clusterSizes.map(_ => Long.MaxValue))
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Grouped elementwise vector aggregation — the update_centroids
    // shape (ivfflat.rs:47-71) made hash-stable by fixed-point
    // quantization: floor(e·10⁶) is exact and identical across engines
    // (float→double widening + one double multiply + floor), and the
    // integer sum is order-independent. The float-mean Aggregator itself
    // is gated in IVFFlatSpec (float sums aren't hash-comparable).
    "vec_mean_by_label" -> ((s, dir) => {
      tbl(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(floor(col("e").cast("double") * lit(1000000.0d)).cast("long"))
          .as("sum_q6"),
          count(lit(1)).as("n"))
        .orderBy(col("label"), col("dim"))
    }),

    // k-means cost (inertia) against the fixed centroids
    // (ivfflat.rs:138-149): per-row min sqdist quantized to µ-units
    // (floor(d·10⁶) BIGINT) so the cross-row sum is order-independent
    // and hash-portable (DECIMAL sums widen differently per engine).
    "ivf_cost_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val minDist = cents.map(c =>
        sqDist(col("embedding"), typedlit(c))).reduce(least(_, _))
      emb.select(floor(minDist * lit(1000000.0d)).cast("long").as("d"))
        .agg(sum(col("d")).as("cost_q6"), count(lit(1)).as("n"))
    }),

    // IVFFlat probe-ALL search (nprobe = numClusters) against the fixed
    // centroids: probing every cluster makes IVF search exact, so the
    // exhaustive-kNN SQL is an exact oracle — drives the whole
    // assign→probe→re-rank path (ivfflat.rs:153-198) driver-green.
    // IVF range search at nprobe = ALL cells: every probed point
    // within the radius == the exhaustive radius oracle (the FAISS
    // IndexIVF.range_search face on the index tier; the radius filter
    // runs in the scan stage — only results move).
    "ivf_range_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb, cents)
      model.rangeSearchMany(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", radius = 1.8, nprobe = cents.length)
        .orderBy(col("qid"), col("id"))
    }),

    "ivf_search_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb, cents)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Hot-cell splitting (the Zipf skew lever, r15): splitCells
    // re-clusters over-cap cells into sub-cells that join the grid as
    // first-class cells — pure re-binning of the same rows, so
    // probe-all search over the SPLIT grid is still exactly the
    // exhaustive oracle (maxCellFactor 0.5 puts cap below the mean,
    // guaranteeing at least one real split exercises on any data).
    "ivf_split_search_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val indexed = IVFFlat.assign(emb, "vec_id", "embedding", cents)
      val sizes = new Array[Long](cents.length)
      indexed.groupBy("cluster").count().collect()
        .foreach(r => sizes(r.getInt(0)) = r.getLong(1))
      val split = IVFFlat.Model(IVFFlat.Params(cents.length), cents, sizes,
          indexed)
        .splitCells(maxCellFactor = 0.5, iterations = 2)
      split.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = split.centroids.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Corpus-scale self-kNN join (the kNN-graph primitive) at nprobe =
    // ALL cells: Model.knnJoin is searchMany's shuffle-path twin — the
    // query side equi-joins on cluster instead of broadcasting, so the
    // query side may be the corpus itself. Probing every cell makes it
    // exact, so the exhaustive self-join SQL is an exact oracle.
    "ivf_knn_join_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      // self-kNN scores |corpus|² pairs in the scan stage: widen the
      // one-split bench scan so the fused sqDist kernel uses every core
      val model = pinnedIvf(Scaling.widen(emb), cents)
      model.knnJoin(emb, "vec_id", "embedding", k = 10, nprobe = cents.length)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Hard-negative mining (KnnGraph.hardNegatives) over the exact
    // self-kNN graph: per anchor, the 3 nearest neighbors inside the
    // (1.0, 1.45] distance band — too close is a near-dup/positive,
    // too far carries no gradient. The oracle replays kNN + band +
    // per-anchor re-rank exactly.
    "mine_hard_negatives" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      // |corpus|² self-kNN first pass — widen like ivf_knn_join_all
      val model = pinnedIvf(Scaling.widen(emb), cents)
      graft.operators.KnnGraph.hardNegatives(
          model.knnJoin(emb, "vec_id", "embedding", k = 10,
            nprobe = cents.length),
          dupMax = 1.0, easyMax = 1.45, perAnchor = 3)
        .orderBy(col("qid"), col("rank"))
    }),

    // The probed configuration of the same join (nprobe = 2 nearest of
    // the 8 fixed cells per query) — deterministic end-to-end, so the
    // oracle replays probe selection + within-probed re-rank for EVERY
    // query row, gating the production kNN-graph shape hash-for-hash.
    "ivf_knn_join_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb, cents)
      model.knnJoin(emb, "vec_id", "embedding", k = 10, nprobe = 2)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // SemDeDup candidate stage: within-cell cosine pairs over the
    // fixed-centroid assignment — the semantic near-dup generator whose
    // pair space is Σ|cell|², never corpus² (Dedup.semanticPairs).
    "dedup_semantic_pairs" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      Dedup.semanticPairsMulti(
          IVFFlat.assignMulti(emb, "vec_id", "embedding", cents,
            marginSq = 1.5), maxCosDist = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup end-to-end: cells → within-cell pairs → connected-
    // component keep-first; survivors of the embeddings table.
    "dedup_semantic" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      Dedup.semdedup(emb, "vec_id", "embedding", cents, maxCosDist = 0.7)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // Prefix-causal SemDeDup (the streaming-enforceable admission
    // rule): drop iff ANY lower-id same-cell row is within the
    // threshold, admitted or not — non-recursive, so the oracle needs
    // no component closure and the streaming twin decides once.
    "dedup_semantic_prefix" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      Dedup.semanticPrefixKeepFirst(emb, "vec_id", "embedding", cents,
          maxCosDist = 0.7)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // Corpus-internal verbatim repeated spans (the Lee et al. 2021
    // span-level exact-dedup shape at 5-gram resolution): maximal
    // token runs whose every 5-gram occurs in >= 2 distinct docs.
    // Grams travel as md5 digests; the run merge is a per-doc window.
    "dedup_spans" -> ((s, dir) =>
      // widen: the md5-per-gram explode is compute-dense on a one-split scan
      Dedup.repeatedSpans(Scaling.widen(tbl(s, dir, "documents")), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"), col("start_tok"))),

    // The scrub face: remove every span-covered token, reassemble the
    // remainder in order. Gated on the digest of the scrubbed text +
    // surviving token count per doc.
    "dedup_spans_scrub" -> ((s, dir) => {
      val docs = Scaling.widen(tbl(s, dir, "documents"))
      val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 5)
      Dedup.scrubRepeatedSpans(docs, "doc_id", "text", spans)
        .select(col("doc_id"), md5(col("scrubbed")).as("scrub_digest"),
          col("n_kept"))
        .orderBy(col("doc_id"))
    }),

    // Real k-means IVFFlat build: cluster-size histogram (shape
    // check only — k-means++ init isn't SQL-reproducible, so this entry
    // has no oracle; correctness is gated in IVFFlatSpec).
    "ivf_kmeans" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = IVFFlat.build(emb, "vec_id", "embedding", ivfKmeansParams)
      model.indexed.groupBy(col("cluster")).count().orderBy(col("cluster"))
    }),

    // Lloyd's iteration under the driver oracle (ivfflat.rs:73-100):
    // pinned init (fixedCentroids) → assign → centroid update → assign.
    // The update is the ORACLE-PORTABLE fixed-point mean — per
    // (cluster, dim) integer sums of floor(e·10⁶) (exact,
    // order-independent) divided in double, cast to float, empty
    // cluster → zero vector (ivfflat.rs:47-71's rule) — so both engines
    // compute bit-identical iteration-2 centroids and the second
    // assignment gates assign→update→assign hash-for-hash. (The
    // float-mean VectorMean aggregator itself is ScalaTest-gated:
    // float-sum order isn't hash-portable — same reasoning as
    // vec_mean_by_label.)
    "ivf_kmeans_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents0 = fixedCentroids(emb)
      val a1 = IVFFlat.assign(emb, "vec_id", "embedding", cents0)
      IVFFlat.assign(emb, "vec_id", "embedding",
          quantLloydCentroids(a1, cents0.length, cents0(0).length))
        .select(col("id"), col("cluster"))
        .orderBy(col("id"))
    }),

    // Remove → warm-start Lloyd's step → reassign: the index-maintenance
    // lifecycle (Model.rebalance's shape) under the driver oracle —
    // drift repair after takedowns, gated hash-for-hash via the same
    // quantized-mean twin as ivf_kmeans_fixed (the float-mean
    // updateCentroids core stays ScalaTest-gated; see that query's
    // portability note). Removed set: every 7th id.
    "ivf_rebalance_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents0 = fixedCentroids(emb)
      val removed = pinnedIvf(emb, cents0).remove(
        emb.filter(pmod(col("vec_id"), lit(7)) === 0), "vec_id")
      IVFFlat.assign(removed.indexed, "id", "vector",
          quantLloydCentroids(removed.indexed, cents0.length, cents0(0).length))
        .select(col("id"), col("cluster"))
        .orderBy(col("id"))
    }),

    // LSH hyperplane sign-buckets against FIXED planes: the perpendicular
    // bisectors of (v0,v1)..(v6,v7) give every vector a 4-bit signature
    // (lsh.rs:27-29 point_is_above + lsh.rs:72-80 plane construction,
    // SQL-checkable because the planes are pinned).
    "lsh_bucket_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      val planes = (0 until 4).map(i =>
        LSHForest.bisectorPlane(cents(2 * i), cents(2 * i + 1)))
      val bucket = planes.zipWithIndex.map { case ((coeffs, const), i) =>
        when(LSHForest.pointIsAbove(col("embedding"), coeffs, const), lit(1 << i))
          .otherwise(lit(0))
      }.reduce(_ + _)
      emb.select(col("vec_id").as("id"), bucket.as("bucket"))
        .orderBy(col("id"))
    }),

    // LSH-forest top-10 for 5 queries (full build + forest search with
    // prefix backtracking). Rows-only check like hnsw_knn — the
    // data-dependent recursive tree isn't SQL-reproducible; recall and
    // the degenerate-forest==exhaustive equivalence are in LSHForestSpec.
    "lsh_knn" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = LSHForest.build(emb, "vec_id", "embedding", lshKnnParams)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // LSH-forest search through the FULL search path (tree routing +
    // prefix backtracking + forest union) in the degenerate config
    // (1 tree, maxNodeSize ≥ n ⇒ root is the only leaf): provably equal
    // to exhaustive search (LSHForestSpec), so the knn_exhaustive SQL
    // is an exact oracle — this makes the LSH search path driver-green.
    // dedupExact=false: the SQL oracle keeps duplicate vectors, so the
    // build must too (equivalence unconditional, no corpus precondition).
    "lsh_knn_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = LSHForest.build(emb, "vec_id", "embedding", lshExactParams)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // LSH persistence round-trip under the driver oracle: save the
    // degenerate-exact forest (planes + leaf stats + indexed paths),
    // LOAD, search — still provably exhaustive, so the knn SQL gates
    // the whole save→load→search lifecycle hash-for-hash.
    "lsh_persist_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = LSHForest.build(emb, "vec_id", "embedding", lshExactParams)
      val tmp = scratchDir("lsh_persist")
      model.save(tmp)
      LSHForest.load(s, tmp)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Index::add driver gate for the LSH forest (lsh.rs:218-251): build
    // the degenerate-exact forest on ~6/7 of the corpus, Model.add the
    // rest (descends the frozen — here empty — plane set into the root
    // leaf; the Int.MaxValue leaf never hits the compaction watermark),
    // so search stays provably exhaustive and the knn oracle gates the
    // add path hash-for-hash.
    "lsh_add_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = LSHForest.build(
          emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
          lshExactParams)
        .add(emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for the forest: the surviving forest's
    // planes re-route the incoming half (the add() descent), so two
    // degenerate-exact half-forests merge into the exhaustive search
    // over the whole corpus — the knn oracle gates merge hash-for-hash.
    "lsh_merge_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val a = LSHForest.build(
        emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding", lshExactParams)
      val b = LSHForest.build(
        emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding", lshExactParams)
      a.merge(b)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Sharded HNSW top-10 under cosine distance for 5 queries. No SQL
    // oracle (graph search isn't SQL-expressible) → driver rows-only
    // check; recall vs the exhaustive oracle is gated in HNSWSpec.
    "hnsw_knn" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = HNSW.build(emb, "vec_id", "embedding", hnswKnnParams,
        numShards = 8)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // HNSW search through the FULL path (build → beam descent → layer-0
    // beam → shard merge) in the degenerate config: 1 shard, efSearch ≥
    // corpus ⇒ the layer-0 beam visits every reachable node, so the
    // result is exhaustive cosine over the NORMALIZED vectors — which
    // hnswExactKnnSql replicates bit-for-bit (normalizeF's
    // double-div→float-cast is the vec_kernels oracle pattern). The
    // lsh_knn_exact trick for the graph index (hnsw.rs:510-548 vs
    // utils.rs:68-82) — makes the last index search lane driver-green.
    "hnsw_knn_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = HNSW.build(emb, "vec_id", "embedding", hnswExactParams,
        numShards = 1)
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // HNSW persistence round-trip under the driver oracle: save the
    // degenerate-exact model (shard blobs + params JSON), LOAD, search —
    // still provably exhaustive, so the same SQL gates the whole
    // save→load→search lifecycle (base.rs:31-58 for the graph index).
    "hnsw_persist_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = HNSW.build(emb, "vec_id", "embedding", hnswExactParams,
        numShards = 1)
      val tmp = scratchDir("hnsw_persist")
      model.save(tmp)
      HNSW.load(s, tmp)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Index::add driver gate for HNSW (hnsw.rs:348-432 inserts arriving
    // via Model.add): build on ~6/7 of the corpus, add the rest — the
    // graph EDGES differ from a full build (insert order matters) but
    // the degenerate search is insert-order independent (every node
    // visited), so the exhaustive SQL gates the add path hash-for-hash.
    "hnsw_add_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = HNSW.build(
          emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
          hnswExactParams, numShards = 1)
        .add(emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Model.merge driver gate for HNSW — shard union: two 1-shard
    // degenerate-exact graphs over disjoint halves merge into a 2-shard
    // model; each shard search is exhaustive over its half (ef ≫ n), so
    // the fan-out union equals exhaustive over the whole corpus and the
    // same SQL gates merge hash-for-hash.
    "hnsw_merge_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val a = HNSW.build(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", hnswExactParams, numShards = 1)
      val b = HNSW.build(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", hnswExactParams, numShards = 1)
      a.merge(b)
        .searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Takedown under the driver oracle for HNSW soft-delete: tombstoned
    // ids stay traversal waypoints but are never returned — the
    // degenerate search must equal exhaustive over corpus-minus-removed
    // (ivf_remove_fixed's shape for the graph index, HNSW.Model.remove).
    "hnsw_remove_exact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = HNSW.build(emb, "vec_id", "embedding", hnswExactParams,
          numShards = 1)
        .remove(emb.filter(col("vec_id") % 9 === 3), "vec_id")
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // Token counting over the documents table (whitespace tokenizer).
    "text_tokens" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Top-5 salient terms per doc by tf × rational-idf (no log — the
    // libm-free BM25 idf core; see TermStats precision contract).
    "text_tfidf" -> ((s, dir) =>
      graft.operators.TermStats.tfidfTopTerms(tbl(s, dir, "documents"),
          "doc_id", "text", topN = 5)
        .orderBy(col("doc_id"), col("term_rank"))),

    // Per-source admission cap (domain-cap stage): keep ≤ 10 docs per
    // source, content-addressed (md5 rank), no RNG.
    "docs_source_cap" -> ((s, dir) =>
      graft.operators.TermStats.sourceCap(tbl(s, dir, "documents"),
          "doc_id", "source", "text", cap = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Prefix-causal per-source cap: first 10 docs per source in id
    // order — the streaming-enforceable admission face of
    // docs_source_cap (stream ≡ batch pinned in StreamingSpec).
    "docs_source_cap_prefix" -> ((s, dir) =>
      graft.operators.TermStats.prefixSourceCap(tbl(s, dir, "documents"),
          "doc_id", "source", cap = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Word-bigram repetition profile (boilerplate / degenerate-text
    // quality gate): counts + top/dup ratios per doc.
    "text_repetition" -> ((s, dir) =>
      graft.operators.TermStats.repetitionProfile(tbl(s, dir, "documents"),
          "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))),

    // BPE-ish regex token counting (subword-style estimator).
    "text_tokens_bpe" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.bpeishCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (rolling-hash k-grams, window minima).
    "doc_winnow" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.charGramHashes(col("text"), 5).as("h"))
        .select(col("doc_id"), TextOps.winnowOfGrams(col("h")).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          array_min(col("fps")).as("min_fp"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic content-addressed train/val/test split: md5-derived
    // fraction, no RNG — membership is stable across runs, cluster
    // sizes, and repartitions (the property daily 100 TB rebuilds need).
    "doc_split" -> ((s, dir) =>
      graft.operators.Splits.assign(tbl(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // Group-aware (leakage-safe) splits: hash the SOURCE, not the doc —
    // all docs of a domain land in one split, preventing the cross-split
    // near-dup leakage that split_contamination detects.
    "doc_split_by_source" -> ((s, dir) =>
      graft.operators.Splits.assignByGroup(tbl(s, dir, "documents"), "source")
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))),

    // Deterministic stratified sampling (the data-mixing stage):
    // downsample dominant strata, keep rare ones — salted hash
    // membership, independent of split assignment, no RNG.
    "doc_sample_stratified" -> ((s, dir) =>
      graft.operators.Splits.sampleStratified(tbl(s, dir, "documents"),
          "doc_id", "lang",
          rates = Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 1.0)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Deterministic weighted sampling — priority sampling (Duffield–
    // Lund–Thorup): exactly-k sample by q = w/u (content-addressed
    // uniform u), plus the unbiased subset-sum estimator max(w, τ).
    // One narrow map + TakeOrdered(k+1); the corpus never shuffles.
    "doc_sample_weighted" -> ((s, dir) =>
      graft.operators.Splits.sampleWeightedTopK(
          tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 200)
        .orderBy(col("doc_id"))),

    // Stratified face: k-per-language weighted sample, each language
    // carrying its own threshold τ and estimator — one partition-by-
    // group exchange of (id, w, group) triples, content never moves.
    "doc_sample_weighted_lang" -> ((s, dir) =>
      graft.operators.Splits.sampleWeightedPerGroup(
          tbl(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "n_chars", "lang", k = 40)
        .orderBy(col("doc_id"))),

    // Token-budget sequence packing: greedy bins from the exclusive
    // prefix-sum of token counts within parallel (split, shard) lanes.
    "doc_pack" -> ((s, dir) =>
      graft.operators.Splits.packTokens(tbl(s, dir, "documents"),
          "doc_id", "text", budget = 1000, shards = 8)
        .orderBy(col("doc_id"))),

    // Packing budgeted by the TRAINED tokenizer's subwords (the budget
    // a pretrain pipeline actually fills): per-doc counts from the
    // pinned unigram vocabulary's Viterbi segmentation, then the same
    // lane window — the oracle re-segments every distinct corpus word
    // in the recursive CTE and replays the pack chain over the summed
    // piece counts.
    "doc_pack_subword" -> ((s, dir) =>
      graft.operators.Splits.packSubwords(tbl(s, dir, "documents"),
          "doc_id", "text", UnigramPinned, budget = 1000, shards = 8)
        .orderBy(col("doc_id"))),

    // Packing under the TRAINED BPE merge table (packSubwordsBpe):
    // merges re-derived from the pinned training corpus, every doc
    // budgeted by its BPE subword count — the second tokenizer family
    // through the same pluggable counter.
    "doc_pack_bpe" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val ms = graft.operators.Bpe.train(docs.filter(expr(BpeDocFilter)),
        "text", BpeMerges, BpeMaxWords).map(m => (m.left, m.right))
      graft.operators.Splits.packSubwordsBpe(docs, "doc_id", "text", ms,
          budget = 1000, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // Temperature mixing weighted by subword counts — the token-mass
    // flattening a pretrain mixture actually runs (doc-count mixing
    // over-weights sources with short docs).
    "mix_temperature_subword" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val withW = docs.select(col("doc_id"), col("source"))
        .join(graft.operators.Unigram.subwordCounts(
            docs, "doc_id", "text", UnigramPinned)
          .withColumnRenamed("id", "doc_id"), "doc_id")
      graft.operators.Splits.mixByTemperatureWeighted(withW,
          "doc_id", "source", "n_subwords", alpha = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window token chunking (32-token chunks, stride 24 →
    // 8-token overlap) — the chunk→embed→index preprocessor.
    "doc_chunks" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(TextOps.chunkTokensOf(col("toks"), 32, 24))
            .as(Seq("chunk_idx", "chunk")))
        .filter(col("chunk") =!= "")
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // C4-style sub-document dedup: keep-first over chunk DIGESTS (the
    // boilerplate-removal granularity — repeated headers/footers dedup
    // away even when their host documents differ). Digest shuffle key,
    // like dedup_exact_norm.
    "chunk_dedup_keepfirst" -> ((s, dir) => {
      val chunks = tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(TextOps.chunkTokensOf(col("toks"), 32, 24))
            .as(Seq("chunk_idx", "chunk")))
        .filter(col("chunk") =!= "")
        .withColumn("digest", md5(col("chunk")))
        .withColumn("rank",
          col("doc_id") * lit(1000000L) + col("chunk_idx"))
      Dedup.exactKeepFirst(chunks, "rank", Seq("digest"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Content-defined chunking (TextOps.cdcChunks): boundaries from
    // local token content, not position — chunk digests survive edits
    // that shift every fixed window (DedupSpec gates the realignment).
    "doc_chunks_cdc" -> ((s, dir) =>
      TextOps.cdcChunks(tbl(s, dir, "documents"), "doc_id", "text",
          avgLen = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // CDC chunk-level dedup: keep-first over the chunk digest, ranked
    // by (doc, chunk) position — the edit-robust twin of
    // chunk_dedup_keepfirst's fixed windows.
    "chunk_dedup_cdc" -> ((s, dir) => {
      val chunks = TextOps.cdcChunks(tbl(s, dir, "documents"),
          "doc_id", "text", avgLen = 16)
        .withColumn("rank",
          col("doc_id") * lit(1000000L) + col("chunk_idx"))
      Dedup.exactKeepFirst(chunks, "rank", Seq("digest"))
        .select(col("doc_id"), col("chunk_idx"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Mutual-kNN graph clustering: the exact self-kNN graph (probe-all)
    // → edges kept iff BOTH endpoints rank each other top-5 → connected
    // components. The embedding-space clustering the kNN-graph
    // primitive exists to feed.
    "knn_graph_clusters" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = fixedCentroids(emb)
      // |corpus|² self-kNN first pass — widen like ivf_knn_join_all
      val model = pinnedIvf(Scaling.widen(emb), cents)
      graft.operators.KnnGraph.clusters(
          model.knnJoin(emb, "vec_id", "embedding", k = 5,
            nprobe = cents.length))
        .orderBy(col("id"))
    }),

    // Language ID by stopword-hit argmax (n-gram heuristic family).
    "text_langid" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/punctuation/stopword composite.
    "text_quality" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // 16-bit SimHash fingerprint per document (two-step projection: one
    // md5 per token shared by the 16 bit votes).
    "text_simhash" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.md5Digests(col("text")).as("digests"))
        .select(col("doc_id"),
          TextOps.simhash16FromDigests(col("digests")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // 64-bit SimHash fingerprint per document (two bits per md5 nibble).
    "text_simhash64" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.md5Digests(col("text")).as("digests"))
        .select(col("doc_id"),
          TextOps.simhash64FromDigests(col("digests")).as("simhash64"))
        .orderBy(col("doc_id"))
    }),

    // Content-defined set fingerprint per document.
    "doc_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // MinHash-LSH near-dup candidate pairs (shingle→minhash→band→join).
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashBandPairs(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // The r (bandSize) parameter of the MinHash S-curve under the
    // oracle: the SAME 12 hashes banded 4 × r=3 instead of 6 × r=2 — a
    // band collides only when all 3 row-minima agree, so the similarity
    // threshold sharpens and marginal pairs drop out (DedupSpec gates
    // the monotonicity; here the oracle gates the r=3 key path
    // hash-for-hash).
    "dedup_minhash_r3" -> ((s, dir) =>
      Dedup.minhashBandPairs(tbl(s, dir, "documents"), "doc_id", "text",
        numHashes = 12, bandSize = 3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Connected components over the minhash pair graph: min-label
    // propagation vs the oracle's recursive transitive closure — the
    // pair→cluster→keep-first step of a real dedup pipeline.
    "dedup_components" -> ((s, dir) => {
      val pairs = Dedup.minhashBandPairs(tbl(s, dir, "documents"),
        "doc_id", "text")
      Dedup.components(pairs, "doc_a", "doc_b").orderBy(col("id"))
    }),

    // Two-stage near-dup: minhash blocking recalls candidates, exact
    // Levenshtein confirms them (Dedup.editVerifyPairs) — the
    // record-linkage block-then-verify shape, exact-integer on both
    // engines. maxDist 6 keeps the true ~4-edit near-dups and drops
    // coincidental band collisions.
    "dedup_edit_verify" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.editVerifyPairs(
          Dedup.minhashBandPairs(docs, "doc_id", "text"), "doc_a", "doc_b",
          docs, "doc_id", "text", maxDist = 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // THE CANONICAL-DEDUP CHAIN, end to end — the third flagship next
    // to pipeline_curate/pipeline_pretrain: minhash blocking recalls
    // candidate pairs, exact Levenshtein verification confirms them,
    // and keep-best selection retains each verified component's
    // highest-quality member. One declarative plan, one end-to-end
    // oracle replaying every stage (band join → edit filter →
    // recursive closure → argmax → anti-join).
    "pipeline_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val verified = Dedup.editVerifyPairs(
        Dedup.minhashBandPairs(docs, "doc_id", "text"), "doc_a", "doc_b",
        docs, "doc_id", "text", maxDist = 6)
      Dedup.keepBestByPairs(docs, "doc_id", "n_chars", verified,
          "doc_a", "doc_b")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Canonical selection by quality (Dedup.keepBestByPairs): within
    // each minhash duplicate component keep the row with the MOST
    // characters (integer score — exact argmax; ties → smallest id),
    // not the earliest id. The curation-grade answer to truncated /
    // boilerplate-injected near-dups.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashBandPairs(docs, "doc_id", "text")
      Dedup.keepBestByPairs(docs, "doc_id", "n_chars", pairs,
          "doc_a", "doc_b")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Normalization-aware exact dedup: keep-first over md5 of the
    // canonical text (lowercase, punctuation-stripped, whitespace-
    // collapsed) — catches trivially-reformatted copies before any
    // near-dup pass. Deduping on the DIGEST, not the text, keeps the
    // shuffle key 32 hex chars however long the documents are (the
    // projection below the exchange drops text entirely — plan-gated).
    "dedup_exact_norm" -> ((s, dir) =>
      Dedup.exactKeepFirst(
          tbl(s, dir, "documents")
            .withColumn("norm_h", md5(TextOps.normalizeText(col("text")))),
          "doc_id", Seq("norm_h"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // The curation pipeline END-TO-END, one declarative chain with one
    // oracle: language gate → quality gate → per-source cap →
    // normalized exact dedup → group-aware split. Each stage is an
    // already-gated operator; this lane gates their COMPOSITION (stage
    // order and column flow) — the shape a real corpus build runs. All
    // narrow maps + two bounded shuffles (cap fold, digest dedup);
    // nothing here widens at 100 TB.
    "pipeline_curate" -> ((s, dir) => {
      // localCheckpoint: sourceCap consumes the gated frame twice (cap
      // fold + semi-join back) and the gate stage is the regex-heavy
      // part of the chain — evaluate it once. Widen the scan first
      // (guide §2.5 input skew): a one-split corpus otherwise runs the
      // whole langid/quality regex chain as ONE task (profiled 2.1 s
      // single-task at sf0.1, 73% of the lane — and the serial stage
      // behind the lane's super-linear 8-core flag); no-op at scale.
      // widenEager: a plain widen exchange gets the deterministic
      // regex projections sunk back below it (Scaling scaladoc).
      val gated = Scaling.widenEager(tbl(s, dir, "documents"))
        .withColumn("lang_pred", TextOps.langId(col("text")))
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .filter(col("lang_pred") =!= "und" && col("quality") >= lit(0.5))
        .localCheckpoint(true)
      val capped = graft.operators.TermStats.sourceCap(
        gated, "doc_id", "source", "text", cap = 20)
      val deduped = Dedup.exactKeepFirst(
        capped.withColumn("norm_h", md5(TextOps.normalizeText(col("text")))),
        "doc_id", Seq("norm_h"))
      graft.operators.Splits.assignByGroup(deduped, "source")
        .select(col("doc_id"), col("source"), col("lang_pred"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary with counts — the tokenizer-training input:
    // top-100 tokens by total frequency, deterministic tie-break.
    "text_vocab" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)),

    // REAL BPE tokenizer training (operators/Bpe): capped word counts →
    // 12 merge iterations (distributed pair counting, driver merge
    // table). Every step is deterministic — cap order, (count DESC,
    // pair ASC) winner, greedy left-to-right application — so DuckDB
    // replays the whole training loop (spaced-symbol replace chain,
    // bpeTrainSql) and the driver gates tokenizer TRAINING itself
    // hash-for-hash. bpeishCount (text_tokens_bpe) remains the
    // train-free estimator face.
    "bpe_train" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").filter(expr(BpeDocFilter))
      graft.operators.Bpe.train(docs, "text", BpeMerges, BpeMaxWords)
        .map(m => (m.step, m.left, m.right, m.freq))
        .toDF("step", "lhs", "rhs", "freq")
        .orderBy(col("step"))
    }),

    // Tokenization under the trained merges (Bpe.encode): per pinned
    // doc, the subword count and the space-joined subword sequence —
    // the oracle re-derives the merge table AND re-applies it per word
    // as the same replace chain.
    "bpe_tokenize" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(expr(BpeDocFilter))
      val ms = graft.operators.Bpe.train(docs, "text", BpeMerges, BpeMaxWords)
        .map(m => (m.left, m.right))
      graft.operators.Bpe.encode(docs, "doc_id", "text", ms)
        .select(col("id").as("doc_id"),
          size(col("subwords")).cast("long").as("n_sub"),
          array_join(col("subwords"), " ").as("sub_str"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM segmentation (operators/Unigram — the SentencePiece
    // family next to Bpe): Viterbi argmax over the pinned
    // integer-score vocabulary, per distinct corpus word. The oracle
    // enumerates EVERY segmentation of each word in a recursive CTE
    // and applies the identical (score DESC, pieces ASC, path ASC)
    // tie-break — the DP must equal the exhaustive argmax on all
    // engine pairs, exact integers end to end.
    "unigram_tokenize" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Unigram
      val vmap = UnigramPinned.map(p => p.piece -> p.score).toMap
      val maxLen = UnigramPinned.map(_.piece.length).max
      val unk = UnigramPinned.map(_.score).min - 1000000L
      unigramWords(tbl(s, dir, "documents"))
        .select(col("word")).as[String]
        .mapPartitions { it =>
          it.map { w =>
            val (ps, sc) = Unigram.segment(w, vmap, maxLen, unk)
            (w, ps.mkString(" "), sc, ps.length.toLong)
          }
        }
        .toDF("word", "pieces", "score", "n_pieces")
        .orderBy(col("word"))
    }),

    // The tokenizer lifecycle under the driver oracle: save the pinned
    // vocabulary to parquet, load it back, tokenize with the LOADED
    // pieces — hash equality with the unigram_tokenize oracle proves
    // persistence is identity (the index tiers' *_persist contract,
    // extended to the tokenizer).
    "unigram_persist" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Unigram
      val tmp = java.nio.file.Paths.get(scratchDir("unigram_vocab"))
      Unigram.save(UnigramPinned, s, tmp.resolve("vocab").toString)
      val loaded = Unigram.load(s, tmp.resolve("vocab").toString)
      val vmap = loaded.map(p => p.piece -> p.score).toMap
      val maxLen = loaded.map(_.piece.length).max
      val unk = loaded.map(_.score).min - 1000000L
      unigramWords(tbl(s, dir, "documents"))
        .select(col("word")).as[String]
        .mapPartitions { it =>
          it.map { w =>
            val (ps, sc) = Unigram.segment(w, vmap, maxLen, unk)
            (w, ps.mkString(" "), sc, ps.length.toLong)
          }
        }
        .toDF("word", "pieces", "score", "n_pieces")
        .orderBy(col("word"))
    }),

    // same lifecycle for BPE: train → save → load → encode, gated by
    // the bpe_tokenize oracle (training-order persistence is the
    // semantics — merges replay in step order)
    "bpe_persist" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(expr(BpeDocFilter))
      val ms = graft.operators.Bpe.train(docs, "text", BpeMerges, BpeMaxWords)
      val tmp = java.nio.file.Paths.get(scratchDir("bpe_merges"))
      graft.operators.Bpe.save(ms, s, tmp.resolve("merges").toString)
      val loaded = graft.operators.Bpe.load(s, tmp.resolve("merges").toString)
        .map(m => (m.left, m.right))
      graft.operators.Bpe.encode(docs, "doc_id", "text", loaded)
        .select(col("id").as("doc_id"),
          size(col("subwords")).cast("long").as("n_sub"),
          array_join(col("subwords"), " ").as("sub_str"))
        .orderBy(col("doc_id"))
    }),

    // The trainer's E-step under the driver oracle (Unigram
    // .pieceCounts): Viterbi-segment each distinct word once, count
    // pieces weighted by corpus frequency — exact integer counts, the
    // bit-deterministic hard-EM contract the trainer iterates on.
    "unigram_estep" -> ((s, dir) => {
      graft.operators.Unigram.pieceCounts(
          unigramWords(tbl(s, dir, "documents")), UnigramPinned)
        .select(col("piece"), col("n").cast("long").as("n"))
        .orderBy(col("piece"))
    }),

    // Eval-integrity audit: minhash near-dup pairs straddling a
    // train/val/test boundary — benchmark-leakage detection. Composes
    // the gated pair generator with the gated split assignment.
    "split_contamination" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.operators.Splits.crossSplitPairs(
        Dedup.minhashBandPairs(docs, "doc_id", "text"), "doc_a", "doc_b",
        graft.operators.Splits.assign(docs, "doc_id")
          .select(col("doc_id"), col("split")), "doc_id")
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // HyperLogLog registers over 3-gram shingle OCCURRENCES (operators/
    // Sketches): the constant-shuffle answer to "how many distinct
    // n-grams?" — the groupBy(bucket).max(rho) moves ≤ 2^p two-int rows
    // total no matter the corpus size (partial agg folds map-side).
    // Hash/bucket/rho are md5-derived, so the oracle replicates the
    // register table bit-for-bit.
    "sketch_hll_registers" -> ((s, dir) => {
      import s.implicits._
      val sh = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].flatMap { case (_, t) =>
          graft.operators.TextHashFast.shingles3(
            graft.operators.TextHashFast.tokenize(t))
        }.toDF("s")
      graft.operators.Sketches.hllRegisters(sh, "s", p = 8)
        .orderBy(col("bucket"))
    }),

    // The HLL estimate next to the exact distinct count it replaces:
    // one gated row (m, nonempty, estimate, exact). The estimate's
    // Σ2^{−rho} is a sorted-by-bucket left fold of exact powers of two,
    // so even the double arithmetic is engine-portable.
    "sketch_hll" -> ((s, dir) => {
      import s.implicits._
      val sh = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].flatMap { case (_, t) =>
          graft.operators.TextHashFast.shingles3(
            graft.operators.TextHashFast.tokenize(t))
        }.toDF("s")
      val est = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(sh, "s", p = 8), p = 8)
      est.crossJoin(sh.select(countDistinct(col("s")).as("exact")))
    }),

    // The small-range (linear-counting) branch of the HLL estimate:
    // ~30 distinct values against m=256 buckets is squarely the regime
    // where the raw estimator is biased high and hllEstimate must
    // switch to m·ln(m/empty). ln is libm (1-ulp engine variance), so
    // the lane gates the estimate QUANTIZED to 10⁻³ next to the exact
    // count — the raw-branch lane above stays full-precision.
    "sketch_hll_small" -> ((s, dir) => {
      val vals = tbl(s, dir, "documents").select((col("doc_id") % 30).as("v"))
      val est = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(vals, "v", p = 8), p = 8)
      est.crossJoin(vals.select(countDistinct(col("v")).as("exact")))
        .select(col("m"), col("nonempty"),
          floor(col("estimate") * lit(1000.0d)).cast("long").as("est_q3"),
          col("exact"))
    }),

    // KMV bottom-R distinct sketch over the shingle stream (the
    // HLL lane's value space): bounded per-task fold → ≤ tasks×R-long
    // TakeOrderedAndProject cut, estimate = (R−1)·2^60/h_R next to the
    // exact distinct count. At-capacity branch (shingles ≫ 256).
    "sketch_kmv" -> ((s, dir) => {
      import s.implicits._
      val sh = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].flatMap { case (_, t) =>
          graft.operators.TextHashFast.shingles3(
            graft.operators.TextHashFast.tokenize(t))
        }.toDF("s")
      graft.operators.Sketches.kmvEstimate(
          graft.operators.Sketches.kmvSketch(sh, "s", r = 256), r = 256)
        .crossJoin(sh.select(countDistinct(col("s")).as("exact")))
    }),

    // The under-capacity branch: 300 distinct values against R = 512 —
    // the sketch holds everything and the estimate is the EXACT count.
    "sketch_kmv_small" -> ((s, dir) => {
      val vals = tbl(s, dir, "documents").select((col("doc_id") % 300).as("v"))
      graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvSketch(vals, "v", r = 512), r = 512)
    }),

    // KMV set-overlap: each doc-id-parity half of the corpus folds
    // ONCE into a 256-hash sketch, and Jaccard / |A∪B| / |A∩B| come
    // from combining the two sketches — the O(KB) train/eval-leakage
    // triage (the exact form equi-joins the full shingle sets). The
    // exact counts ride along in the same gated row.
    "sketch_kmv_overlap" -> ((s, dir) => {
      import s.implicits._
      def half(par: Int) = tbl(s, dir, "documents")
        .filter(col("doc_id") % 2 === par)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].flatMap { case (_, t) =>
          graft.operators.TextHashFast.shingles3(
            graft.operators.TextHashFast.tokenize(t))
        }.toDF("s")
      val est = graft.operators.Sketches.kmvOverlap(
        graft.operators.Sketches.kmvSketch(half(0), "s", r = 256),
        graft.operators.Sketches.kmvSketch(half(1), "s", r = 256), r = 256)
      val exact = half(0).distinct()
        .select(col("s"), lit(1).as("a"), lit(0).as("b"))
        .unionAll(half(1).distinct()
          .select(col("s"), lit(0).as("a"), lit(1).as("b")))
        .groupBy("s").agg(max("a").as("a"), max("b").as("b"))
        .agg(coalesce(sum(col("a") * col("b")), lit(0L)).cast("long")
            .as("exact_inter"),
          count(lit(1)).as("exact_union"))
      est.crossJoin(exact)
    }),

    // Per-source HLL: distinct shingles per source in ONE pass —
    // register shuffle ≤ sources × 256 triples (the per-key face of
    // sketch_hll; "distinct URLs per domain" at 100 TB). Gated
    // quantized like sketch_hll_small: sources land on either side of
    // the linear-counting switch and ln is libm.
    "sketch_hll_by_source" -> ((s, dir) => {
      import s.implicits._
      val sh = tbl(s, dir, "documents").select(col("source"), col("text"))
        .as[(String, String)].flatMap { case (src, t) =>
          graft.operators.TextHashFast.shingles3(
            graft.operators.TextHashFast.tokenize(t)).map(g => (src, g))
        }.toDF("source", "s")
      val est = graft.operators.Sketches.hllEstimateByKey(
        graft.operators.Sketches.hllRegistersByKey(sh, "source", "s", p = 8),
        "source", p = 8)
      val exact = sh.groupBy("source").agg(countDistinct(col("s")).as("exact"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("nonempty"),
          floor(col("estimate") * lit(1000.0d)).cast("long").as("est_q3"),
          col("exact"))
        .orderBy(col("source"))
    }),

    // Content-addressed bottom-128 row sample (hash60(doc_id) rank) →
    // nearest-rank token-count quantiles over the sample — the
    // corpus-stats face of the KMV machinery: deterministic,
    // repartition-stable, and every reported value is an actual
    // sampled doc's count (no interpolation arithmetic to port).
    "sample_quantiles" -> ((s, dir) => {
      val sample = graft.operators.Sketches.bottomKSample(
        tbl(s, dir, "documents"), "doc_id", r = 128)
      graft.operators.Sketches.sampleQuantiles(
          sample.select(size(split(col("text"), "\\s+")).cast("long")
            .as("n_toks")),
          "n_toks", Seq(0.5, 0.9, 0.99))
        .orderBy(col("q"))
    }),

    // Count-min heavy-hitter audit: a depth-3 × 2^12 CMS over token
    // occurrences (counter table ≤ 3·4096 rows, shuffle bounded by the
    // sketch, never the corpus), probed for the exact top-20 tokens —
    // the gated row shows exact n next to the cms estimate (cms ≥ n
    // always; equality when no collision). Estimates are md5-addressed
    // counters, so DuckDB rebuilds the sketch bit-for-bit.
    "sketch_cms_topk" -> ((s, dir) => {
      import s.implicits._
      val toks = tbl(s, dir, "documents")
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      val cms = graft.operators.Sketches.cmsBuild(toks, "token",
        logw = 12, depth = 3)
      val top = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
      graft.operators.Sketches.cmsLookup(cms, top, "token",
          logw = 12, depth = 3)
        .select(col("token"), col("n"), col("cms_count"))
        .orderBy(col("n").desc, col("token"))
    }),

    // Bloom-filter contamination audit — the 100 TB face of
    // split_contamination: instead of equi-joining test shingles
    // against every train shingle (shuffling the big side), the train
    // set folds into a 2^18-bit bitmap (32 KB, broadcast) and the test
    // side probes it map-side through k=3 chained broadcast joins —
    // zero false negatives, (1−e^{−kn/m})^k false positives, the test
    // corpus never shuffles for membership. Per test doc:
    // (n_sh distinct shingles, n_maybe flagged).
    "sketch_bloom_contamination" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val ex = docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.operators.TextHashFast.shingles3(
            graft.operators.TextHashFast.tokenize(t)).distinct.map(sh => (id, sh))
        }.toDF("doc_id", "s")
      val sp = graft.operators.Splits.assign(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      val trainSh = ex.join(sp.filter(col("split") === "train"), "doc_id")
        .select("s")
      val bloom = graft.operators.Sketches.bloomBuild(trainSh, "s",
        logm = 18, k = 3)
      val testSh = ex.join(sp.filter(col("split") === "test"), "doc_id")
        .select("doc_id", "s")
      graft.operators.Sketches.bloomProbe(bloom, testSh, "s", logm = 18, k = 3)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("maybe_member"), 1L).otherwise(0L)).as("n_maybe"))
        .orderBy(col("doc_id"))
    }),

    // Prefix-causal keep-first over minhash band buckets: drop a doc
    // iff it shares a bucket with ANY lower-id doc. This is the exact
    // batch face of the streaming dedup ingest (Streaming.
    // ingestDedupMinhash reproduces it batch-for-batch) — the rule a
    // stream can enforce with no retraction.
    "dedup_prefix_keepfirst" -> ((s, dir) =>
      Dedup.prefixKeepFirst(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Exact n-gram Jaccard pairs via shingle inverted index.
    "dedup_jaccard" -> ((s, dir) =>
      // widen: shingle digesting + the posting self-join read a one-split scan
      Dedup.jaccardPairs(Scaling.widen(tbl(s, dir, "documents")), "doc_id", "text",
        threshold = 0.2)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Same, with the document-frequency cap that bounds posting-list
    // fanout at scale (shingles in > dfCap docs leave the universe).
    "dedup_jaccard_capped" -> ((s, dir) =>
      Dedup.jaccardPairs(Scaling.widen(tbl(s, dir, "documents")), "doc_id", "text",
        threshold = 0.2, dfCap = 8)
        .orderBy(col("doc_a"), col("doc_b"))),

    // MOSS-style winnow-fingerprint Jaccard pairs (char-5-gram window
    // minima): tokenizer-free near-dups with the winnowing match
    // guarantee, over a winnow-SAMPLED inverted index — a fraction of
    // dedup_jaccard's postings per doc.
    "dedup_winnow" -> ((s, dir) =>
      // widen: the char-gram winnow kernel (mapPartitions — opaque to
      // pushdown, so a plain widen holds) digests a one-split scan as
      // ONE task; paired with winnowPairs' eager materialize (r16)
      Dedup.winnowPairs(Scaling.widen(tbl(s, dir, "documents")), "doc_id", "text",
        threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Shingle-containment pairs: catches partial copies (a short doc
    // embedded in a long one) that symmetric Jaccard misses. Threshold
    // 0.5 = half of the smaller side's shingles appear in the other.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Scaling.widen(tbl(s, dir, "documents")), "doc_id", "text",
        threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // SimHash pairs within Hamming radius 2 (pigeonhole chunk join).
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text",
        maxHamming = 2)
        .orderBy(col("doc_a"), col("doc_b"))),

    // 64-bit SimHash pairs, radius 3 (4 pigeonhole chunks) — the
    // corpus-scale fingerprint (16 bits saturate beyond ~10⁴ docs).
    "dedup_simhash64" -> ((s, dir) =>
      Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bits = 64)
        .orderBy(col("doc_a"), col("doc_b"))),

    // LSH build-time exact-duplicate elimination, keep-first by id
    // (lsh.rs:113-130): plant a duplicate of every vector — winning
    // (smaller) ids for even rows, losing ids for odd — and check which
    // id each vector group keeps in the built index. The planted-id
    // offset is max(vec_id)+1 (mirrored in the SQL) so planted ids can
    // never collide with real ones at any scale factor.
    "lsh_dedup_keepfirst" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val off = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) + 1L
      val dup = emb.select(
        when(col("vec_id") % 2 === 0, col("vec_id") - lit(off))
          .otherwise(col("vec_id") + lit(off)).as("vec_id"),
        col("embedding"))
      val m = LSHForest.build(emb.select(col("vec_id"), col("embedding"))
          .unionByName(dup), "vec_id", "embedding",
        LSHForest.Params(numTrees = 1, maxNodeSize = Int.MaxValue))
      m.indexed.select(col("id")).orderBy(col("id"))
    }),

    // Embedding cosine near-dup pairs.
    "dedup_embed" -> ((s, dir) =>
      Dedup.embeddingPairs(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        maxCosDist = 0.7)
        .orderBy(col("id_a"), col("id_b"))),

    // Embedding near-dup via the LSH-bucket prefilter — the 100 TB path
    // (candidates meet inside shared leaf buckets, never all-pairs).
    // Degenerate exact config (1 tree, unbounded leaf, dedup off): every
    // pair shares the single root leaf, so the same all-pairs SQL is an
    // exact oracle for the whole bucketed pipeline — the lsh_knn_exact
    // trick applied to dedup.
    "dedup_embed_lsh" -> ((s, dir) =>
      Dedup.embeddingPairsViaLSH(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", maxCosDist = 0.7, params = lshExactParams)
        .orderBy(col("id_a"), col("id_b"))),

    // Multimodal binary-column plumbing: documents as utf-8 BLOBs with
    // byte length + content digest (the decode stub's feature path is
    // exercised in MultimodalVecSpec — features aren't SQL-expressible).
    "multimodal_meta" -> ((s, dir) => {
      graft.operators.Multimodal.fromDocuments(tbl(s, dir, "documents"))
        .select(col("id"), col("media_type"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("digest"))
        .orderBy(col("id"))
    }),

    // 64-bit DCT pHash over REAL in-lane PNG fixtures (decode →
    // 32×32 luminance → DCT 8×8 → sign-of-mean bits). Pixels come from
    // pinned integer formulas and PNG is lossless, so the hashes are
    // exact across JVMs — the oracle carries them as pinned literals
    // (ImagePhashPinned; the DOWNSTREAM pair join is replayed fully in
    // SQL by dedup_image_phash).
    "image_phash" -> ((s, dir) => {
      import s.implicits._
      val media = imageFixtureRows().toDF("id", "content")
      graft.operators.Multimodal.imagePhash(media).orderBy(col("id"))
    }),

    // Image near-dup pairs: the SimHash 64-bit pigeonhole join over the
    // pHash fingerprints (hamming ≤ 6 ⇒ some 7-chunk matches exactly —
    // equi-join, never all-pairs). The oracle recomputes every pair
    // naively over the pinned hashes: the chunk-join must equal the
    // full quadratic scan.
    "dedup_image_phash" -> ((s, dir) => {
      import s.implicits._
      val media = imageFixtureRows().toDF("id", "content")
      graft.operators.Dedup.imagePhashPairs(media, maxHamming = 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // 64-bit audio energy-delta fingerprint over REAL in-lane WAV
    // fixtures (JDK PCM decode → 65-window RMS envelope →
    // sign-of-delta bits). Volume-invariant by construction; values
    // pinned like image_phash.
    "audio_hash" -> ((s, dir) => {
      import s.implicits._
      val media = audioFixtureRows().toDF("id", "content")
      graft.operators.Multimodal.audioHash(media).orderBy(col("id"))
    }),

    // Audio near-dup pairs via the same pigeonhole join; oracle = full
    // quadratic hamming scan over the pinned fingerprints.
    "dedup_audio_hash" -> ((s, dir) => {
      import s.implicits._
      val media = audioFixtureRows().toDF("id", "content")
      graft.operators.Dedup.audioHashPairs(media, maxHamming = 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Shift-robust per-block audio sub-fingerprints (Haitsma–Kalker
    // fixed-duration frames): the posting-list the silence-trim dedup
    // runs on. Values replayed by the oracle from the deterministic
    // kernel (audioBlockValuesSql).
    "audio_block_fp" -> ((s, dir) => {
      import s.implicits._
      val media = audioShiftFixtureRows().toDF("id", "content")
      graft.operators.Multimodal.audioBlockFingerprints(media)
        .orderBy(col("id"), col("block"))
    }),

    // Silence-trimmed dup pairs: anchor equi-join on identical block
    // sub-fingerprints + offset-agreement vote — catches the trimmed
    // copies (off = 2 hops) the global 65-window hash structurally
    // misses. Oracle replays cap → join → vote over the same values.
    "dedup_audio_shift" -> ((s, dir) => {
      import s.implicits._
      val media = audioShiftFixtureRows().toDF("id", "content")
      graft.operators.Dedup.audioBlockPairs(media)
        .orderBy(col("doc_a"), col("doc_b"), col("off"))
    }),

    // Prefix-causal audio admission over the block pairs: drop iff a
    // consistent-offset block match against ANY lower-id track — the
    // rule Streaming.ingestDedupAudioBlocks enforces at ingest.
    "dedup_audio_prefix" -> ((s, dir) => {
      import s.implicits._
      val media = audioShiftFixtureRows().toDF("id", "content")
      graft.operators.Dedup.prefixKeepFirstByPairs(media, "id",
          graft.operators.Dedup.audioBlockPairs(media), "doc_a", "doc_b")
        .select(col("id"))
        .orderBy(col("id"))
    }),

    // Prefix-causal image admission (prefixKeepFirstByPairs over the
    // pHash pairs): drop iff ANY lower-id image within the threshold,
    // admitted or not — the streaming-enforceable rule
    // (Streaming.ingestDedupFingerprint is its exact ingest face).
    "dedup_image_prefix" -> ((s, dir) => {
      import s.implicits._
      val media = imageFixtureRows().toDF("id", "content")
      graft.operators.Dedup.prefixKeepFirstByPairs(media, "id",
          graft.operators.Dedup.imagePhashPairs(media, maxHamming = 6),
          "doc_a", "doc_b")
        .join(graft.operators.Multimodal.imagePhash(media), Seq("id"))
        .select(col("id"), col("phash"))
        .orderBy(col("id"))
    }),

    // Image dedup END-TO-END: decode → pHash → pigeonhole pairs →
    // connected-component keep-first — the whole visual-dedup chain as
    // one declarative plan; the oracle replays pairs + closure over
    // the pinned hashes and must produce the same survivors.
    "pipeline_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val media = imageFixtureRows().toDF("id", "content")
      val survivors = graft.operators.Dedup.keepFirstByPairs(media, "id",
        graft.operators.Dedup.imagePhashPairs(media, maxHamming = 6),
        "doc_a", "doc_b")
      // survivors carry their fingerprint (PNG byte length would be
      // encoder-specific — the hash is the portable witness)
      survivors.join(
          graft.operators.Multimodal.imagePhash(media), Seq("id"))
        .select(col("id"), col("phash"))
        .orderBy(col("id"))
    }),

    // The .vec source under the driver oracle (sources/VecFile —
    // utils.rs:7-66 semantics): a pinned integer-formula fixture is
    // written as a real .vec text file inside the query, loaded with a
    // holdout word, and the corpus re-emitted per element. Gates header
    // skip, whitespace parse, L2 normalization (the hnswExactKnnSql
    // REAL-round-trip pattern), holdout diversion, and dense file-order
    // ids — the oracle recomputes everything from the same formula.
    "vec_file_load" -> ((s, dir) => {
      val n = 20; val dim = 8
      val tmp = java.nio.file.Paths.get(scratchDir("vecfile"))
      val f = tmp.resolve("fixture.vec")
      val sb = new StringBuilder(s"$n $dim\n")
      for (i <- 0 until n) {
        sb.append(s"w$i")
        for (j <- 0 until dim) sb.append(" " + ((i * 7 + j * 3) % 11 - 5))
        sb.append("\n")
      }
      java.nio.file.Files.writeString(f, sb.toString)
      val loaded = graft.sources.VecFile.read(s, f.toString,
        holdoutWord = Some("w3"))
      // materialize eagerly, then release the parse cache — the
      // Loaded.unpersist contract (an un-released cache pins executor
      // memory for the session)
      val out = loaded.corpus
        .select(col("id"), col("word"),
          posexplode(col("vector")).as(Seq("dim", "val")))
        .select(col("id"), col("word"), col("dim").cast("int").as("dim"),
          col("val").cast("double").as("val"))
        .orderBy(col("id"), col("dim"))
        .localCheckpoint(true)
      loaded.unpersist()
      out
    }),

    // JSON-Lines source (sources/JsonlFile) under the driver oracle: a
    // formula-pinned ndjson fixture — one plain shard, one gzip shard,
    // every 9th line truncated mid-string — read with an explicit
    // nested schema. Gates schema-directed parse (incl. the nested
    // struct), multi-codec shard handling, and that corrupt lines
    // never leak into the good frame; the oracle recomputes the
    // surviving rows from the generator formula.
    "jsonl_load" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("text", StringType),
        StructField("meta", StructType(Seq(StructField("lang", StringType),
          StructField("stars", LongType))))))
      graft.sources.JsonlFile.read(s, jsonlFixture(), schema).good
        .select(col("id"), col("text"),
          col("meta.lang").as("lang"), col("meta.stars").as("stars"))
        .orderBy(col("id"))
    }),

    // The quarantine half of the same contract: malformed lines
    // surface VERBATIM as data (corrupt-is-data, the Multimodal decode
    // contract), never as exceptions — the oracle rebuilds the exact
    // truncated strings from the same formula.
    "jsonl_quarantine" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("text", StringType)))
      graft.sources.JsonlFile.read(s, jsonlFixture(), schema).quarantine
        .orderBy(col("raw"))
    }),

    // REAL video container metadata (operators/Mp4): a pinned-parameter
    // MP4 skeleton is generated per row (ISO-BMFF ftyp+moov structure)
    // and parsed back by the box walker — brand, mvhd duration, tkhd
    // 16.16 dimensions, stsd codec fourcc. The oracle recomputes the
    // generator parameters directly, so the lane gates that parse
    // inverts the public container format exactly. (The decode kernel
    // stays stubbed — the JDK ships no video codec — but the metadata
    // path is real; see Multimodal.videoMeta for crawl-shaped use.)
    "multimodal_video_meta" -> ((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (16L * (id % 8 + 1)).toInt
          val h = (16L * (id % 5 + 1)).toInt
          val dur = 1000L + id * 37L
          val codecs = Array("avc1", "hvc1", "vp09", "av01")
          val codec = codecs((id % 4).toInt)
          val bytes = graft.operators.Mp4.buildMinimal(1000, dur, w, h, codec)
          val m = graft.operators.Mp4.parse(bytes).get
          (id, m.container, m.durationMs, m.width, m.height, m.codec, m.nTracks)
        }
        .toDF("doc_id", "container", "duration_ms", "width", "height",
          "codec", "n_tracks")
        .orderBy(col("doc_id"))
    }),

    // The Matroska/WebM twin of multimodal_video_meta (operators/Mkv):
    // a pinned-parameter EBML skeleton generated per row and parsed
    // back — Segment/Info duration at the default 1 ms timestamp
    // scale, video TrackEntry pixel dimensions, CodecID string. Same
    // contract: the oracle recomputes the generator parameters, so the
    // lane gates that parse inverts the public EBML format exactly.
    "multimodal_video_meta_mkv" -> ((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (32L * (id % 6 + 1)).toInt
          val h = (24L * (id % 4 + 1)).toInt
          val ticks = (2000L + id * 41L).toDouble // 1 tick = 1 ms
          val codecs = Array("V_MPEG4/ISO/AVC", "V_MPEGH/ISO/HEVC",
            "V_VP9", "V_AV1")
          val codec = codecs((id % 4).toInt)
          val bytes = graft.operators.Mkv.buildMinimal(1000000L, ticks,
            w, h, codec)
          val m = graft.operators.Mkv.parse(bytes).get
          (id, m.durationMs, m.width, m.height, m.codec, m.nTracks)
        }
        .toDF("doc_id", "duration_ms", "width", "height", "codec", "n_tracks")
        .orderBy(col("doc_id"))
    }),

    // Tumbling 5-min event-time aggregation — the batch face of the
    // streaming.Streaming.windowCounts transformation (ns-long ts →
    // timestamp via µs truncation, idiomatic window()).
    "events_window" -> ((s, dir) => {
      Streaming.windowCounts(
          tbl(s, dir, "events")
            .withColumn("ts", timestamp_micros(expr("ts div 1000"))))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // As-of join via the union-window trick — the Spark-idiomatic
    // attribution shape: for each purchase, the user's most recent
    // strictly-earlier click (ties broken by event_id; -1 = none).
    // One window over the union beats a range join at scale: the
    // shuffle is one partition-by-user exchange, never a per-pair
    // candidate expansion.
    "events_asof" -> ((s, dir) => {
      // µs axis on both engines: DuckDB reads TIMESTAMP(NANOS) at µs
      // resolution, so the shared ordering/output key is ts div 1000
      val e = tbl(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), expr("ts div 1000").as("tus"),
          col("user_id"), col("event_type"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val clickId = when(col("event_type") === "click", col("event_id"))
      val clickTs = when(col("event_type") === "click", col("tus"))
      e.withColumn("last_click", last(clickId, ignoreNulls = true).over(w))
        .withColumn("last_click_tus", last(clickTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          coalesce(col("last_click"), lit(-1L)).as("last_click"),
          coalesce(col("last_click_tus"), lit(-1L)).as("last_click_tus"))
        .orderBy(col("event_id"))
    }),

    // Rolling 10-minute per-user aggregates (event-time RANGE frame on
    // the ns axis, current row's peers excluded): prior-event count and
    // value sum as exact fixed-point cents.
    "events_rolling" -> ((s, dir) => {
      // µs axis like events_asof: frame membership must not depend on
      // the sub-µs digits DuckDB cannot see
      val w = Window.partitionBy("user_id").orderBy(col("tus"))
        .rangeBetween(-600000000L, -1L)
      tbl(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tus"), col("user_id"),
          q(col("value"), 100d).as("cents"))
        .withColumn("n_prev", count(lit(1)).over(w))
        .withColumn("sum_prev_cents",
          coalesce(sum(col("cents")).over(w), lit(0L)))
        .select(col("event_id"), col("user_id"), col("n_prev"),
          col("sum_prev_cents"))
        .orderBy(col("event_id"))
    }),

    // Gap sessionization (30-min), all-integer ns math; one row per
    // session. Streaming twin: Streaming.sessionizeStream (tested
    // equivalent in StreamingSpec).
    "events_sessions" -> ((s, dir) => {
      Streaming.sessionize(tbl(s, dir, "events"), gapSec = 1800L)
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Bucketized point-in-interval join (operators/RangeJoin): event
    // timestamps against formula-derived order intervals on the exact
    // µs axis — 1h buckets, 10-day outliers diverted to the broadcast
    // path (both paths land in the one aggregated answer the oracle
    // replays as a plain BETWEEN join). The plan is equi-join work at
    // any scale; PlanSpec pins the no-diversion shape.
    "range_join_events" -> ((s, dir) => {
      val pts = tbl(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tus"))
      val iv = rangeJoinIntervals(tbl(s, dir, "orders"))
      graft.operators.RangeJoin.pointInInterval(pts, "tus", iv, "lo", "hi",
          width = 3600L * 1000000L, longCap = 64)
        .groupBy("iid")
        .agg(count(lit(1)).as("n_events"), sum("event_id").as("sum_ids"))
        .orderBy(col("iid"))
    }),

    // Interval-overlap join, each overlapping pair emitted exactly
    // once (first-shared-bucket proration — the aggregate counts would
    // expose any double emission): even-key order intervals vs odd-key
    // ones, with empty intervals on the b side and long outliers on
    // both, all under the same 1h bucket width.
    "interval_overlap_orders" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val a = rangeJoinIntervals(orders, parity = Some(0))
        .select(col("iid").as("aid"), col("lo").as("alo"), col("hi").as("ahi"))
      val b = rangeJoinIntervals(orders, parity = Some(1), salt = 6689L,
          emptyEvery = 13L)
        .select(col("iid").as("bid"), col("lo").as("blo"), col("hi").as("bhi"))
      graft.operators.RangeJoin.intervalOverlap(a, "alo", "ahi",
          b, "blo", "bhi", width = 3600L * 1000000L, longCap = 64)
        .groupBy("aid")
        .agg(count(lit(1)).as("n_overlaps"), sum("bid").as("sum_bids"))
        .orderBy(col("aid"))
    }),

    // PII scan (operators/Pii): per-doc counts of the four scrub
    // classes over deterministically PII-augmented text (the synthetic
    // corpus carries no natural PII, so the lane plants one class per
    // doc_id residue — replayed verbatim in the oracle — and gates the
    // detector regexes on both engines).
    "pii_scan" -> ((s, dir) => {
      import graft.operators.Pii
      piiAugmented(tbl(s, dir, "documents"))
        .select(col("doc_id"),
          Pii.countEmails(col("t")).cast("long").as("n_email"),
          Pii.countIpv4(col("t")).cast("long").as("n_ip"),
          Pii.countPhones(col("t")).cast("long").as("n_phone"),
          Pii.countSsns(col("t")).cast("long").as("n_ssn"))
        .orderBy(col("doc_id"))
    }),

    // PII redaction: the four-pattern replace chain (email → ssn →
    // phone → ip), gated by digest + length of the redacted text —
    // byte-for-byte equality with the oracle's replay.
    "pii_redact" -> ((s, dir) => {
      import graft.operators.Pii
      piiAugmented(tbl(s, dir, "documents"))
        .select(col("doc_id"),
          md5(Pii.redact(col("t"))).as("red_digest"),
          length(Pii.redact(col("t"))).cast("long").as("red_len"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination (operators/Decontam): distinct token
    // trigram overlap of every candidate doc against the doc_id%97==0
    // "benchmark" subset — the GPT-3-style n-gram collision check at
    // the granularity that catches quoted answers inside otherwise
    // original pages. Benchmark gram set broadcasts; corpus never
    // shuffles its text.
    "contam_ngram" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.operators.Decontam.ngramOverlap(
          docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0), "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(97L)) === 0), "doc_id", "text",
          n = 3)
        .orderBy(col("doc_id"))
    }),

    // Span-level decontamination (Decontam.scrubContaminatedSpans):
    // only the token spans colliding with benchmark n-grams are
    // excised — the page survives with the quote cut out, instead of
    // dropping whole (the curation-grade rule). The oracle replays
    // gram-hit positions → gaps-and-islands spans → covered-token
    // anti-join → in-order reassembly.
    "contam_scrub_spans" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.operators.Decontam.scrubContaminatedSpans(
          docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0), "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(97L)) === 0), "doc_id", "text",
          n = 3)
        .orderBy(col("doc_id"))
    }),

    // Temperature-weighted source mixing (operators/Splits): keep rate
    // (n_min/n_src)^(1-alpha) per source at alpha = 0.5 (the
    // sqrt-portable configuration), membership content-addressed — the
    // multilingual rebalancing stage.
    "mix_temperature" -> ((s, dir) =>
      graft.operators.Splits.mixByTemperature(
          tbl(s, dir, "documents"), "doc_id", "lang", alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Bigram-LM corpus likelihood (operators/LangModel): add-one
    // smoothed p(w2|w1) trained on the corpus itself, per-doc sums of
    // 1e-9-quantized probabilities — the CCNet-style in-domain quality
    // signal, libm-free by construction.
    "lm_bigram_score" -> ((s, dir) =>
      graft.operators.LangModel.selfScore(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Interpolated Kneser–Ney bigram scoring (the KenLM/CCNet
    // smoothing family): discounted seen mass + continuation-count
    // backoff, fixed-point quantized — the oracle replays every IEEE
    // step from its own count CTEs.
    "lm_kn_score" -> ((s, dir) =>
      graft.operators.LangModel.selfScoreKN(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Full interpolated KN trigram chain (the KenLM n=3 shape): raw
    // counts at the top, continuation-type counts at every lower
    // order; the oracle replays the whole three-level interpolation
    // IEEE-step-for-step from its own CTEs.
    "lm_kn3_score" -> ((s, dir) =>
      graft.operators.LangModel.selfScoreKN3(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Z-order layout key (operators/Layout): exact-rank 256-bucket
    // coordinates on (user_id, value), Morton-interleaved — the
    // multi-dimensional file-clustering key whose prefix (zbin) tiles
    // the space 16×16, so min/max footer stats prune on BOTH columns.
    "layout_zorder" -> ((s, dir) => {
      import graft.operators.Layout
      tbl(s, dir, "events")
        .select(col("event_id"),
          Layout.rankBucket(col("user_id"), col("event_id"), 8).as("bu"),
          Layout.rankBucket(col("value"), col("event_id"), 8).as("bv"))
        .withColumn("zkey", Layout.interleaveBits(col("bu"), col("bv"), 8))
        .withColumn("zbin", shiftright(col("zkey"), 8))
        .orderBy(col("event_id"))
    }),

    // The data-skipping evidence for layout_zorder: per-zbin extents.
    // Every zbin covers one 16×16 tile — max-min ≤ 15 in BOTH
    // dimensions simultaneously (a single-column sort gives 15 in one,
    // ~255 in the other).
    "layout_zorder_stats" -> ((s, dir) => {
      import graft.operators.Layout
      tbl(s, dir, "events")
        .select(col("event_id"),
          Layout.rankBucket(col("user_id"), col("event_id"), 8).as("bu"),
          Layout.rankBucket(col("value"), col("event_id"), 8).as("bv"))
        .withColumn("zbin",
          shiftright(Layout.interleaveBits(col("bu"), col("bv"), 8), 8))
        .groupBy(col("zbin"))
        .agg(count(lit(1)).as("n"),
          min(col("bu")).as("min_bu"), max(col("bu")).as("max_bu"),
          min(col("bv")).as("min_bv"), max(col("bv")).as("max_bv"))
        .orderBy(col("zbin"))
    }),

    // Size-targeted re-layout (Layout.writeSized — the compaction
    // operator): lineitem written into sample-calibrated ~256 KB
    // range-clustered parquet files, read back and aggregated — the
    // oracle gates that re-layout loses or duplicates NOTHING (the
    // checksum ≡ the same aggregate off the source table); LayoutSpec
    // gates the file-count/size behavior itself.
    "layout_write_sized" -> ((s, dir) => {
      val out = scratchDir("write_sized") + "/t"
      val src = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
      graft.operators.Layout.writeSized(src, out,
        targetFileBytes = 256L << 10, sortCols = Seq("l_orderkey"))
      s.read.parquet(out)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(q(col("l_quantity"), 100.0)).as("sum_qty_c"),
          sum(q(col("l_extendedprice"), 100.0)).as("sum_price_c"))
        .orderBy(col("l_orderkey"))
    }),

    // Hilbert-curve layout key (Layout.withHilbertKey): the
    // better-locality alternative to layout_zorder — consecutive keys
    // are always grid NEIGHBOURS (pinned in LayoutSpec), so
    // range-clustered files cover even tighter tiles; the xy2d state
    // loop runs as chained codegen projections, replayed level by
    // level in the oracle's CTE chain.
    "layout_hilbert" -> ((s, dir) => {
      import graft.operators.Layout
      val b = tbl(s, dir, "events")
        .select(col("event_id"),
          Layout.rankBucket(col("user_id"), col("event_id"), 8).as("bu"),
          Layout.rankBucket(col("value"), col("event_id"), 8).as("bv"))
      Layout.withHilbertKey(b, "bu", "bv", 8)
        .select(col("event_id"), col("bu"), col("bv"), col("hkey"))
        .orderBy(col("event_id"))
    }),

    // Sort-key window blocking (Dedup.neighborPairsByKey over the
    // Hilbert layout key): candidate pairs = events within key
    // distance < 3 on the locality curve — record-linkage blocking as
    // a single bucketed equi-join, each unordered pair exactly once.
    // The oracle replays the full Hilbert chain and a plain abs-diff
    // self-join.
    "dedup_neighbor_keys" -> ((s, dir) => {
      import graft.operators.Layout
      val b = tbl(s, dir, "events")
        .select(col("event_id"),
          Layout.rankBucket(col("user_id"), col("event_id"), 8).as("bu"),
          Layout.rankBucket(col("value"), col("event_id"), 8).as("bv"))
      // materialize the key: the blocking join references the key
      // column ~20×, and inlining the 8-level Hilbert expression into
      // every reference blows the codegen tree up multiplicatively
      // (the O(d²) expression-duplication class — see BASELINE r7)
      val keyed = Layout.withHilbertKey(b, "bu", "bv", 8)
        .select(col("event_id"), col("hkey"))
        .localCheckpoint(true)
      Dedup.neighborPairsByKey(keyed, "event_id", "hkey", delta = 3L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Gopher-style heuristic quality battery (TextOps.gopherMetrics):
    // word-count bounds, mean word length, alphabetic-word fraction,
    // stopword evidence — the published web-pretraining rules, each an
    // exact integer sum or single double division (engine-portable).
    "quality_gopher" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val (n, meanLen, fracAlpha, stops) = TextOps.gopherMetrics(col("toks"))
      d.select(col("doc_id"), n.as("n_words"), meanLen.as("mean_wlen"),
          fracAlpha.as("frac_alpha"), stops.as("n_stops"),
          TextOps.gopherKeep(col("toks")).cast("long").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Per-source quality calibration (Splits.calibratePerGroup): each
    // doc's within-source percent_rank and decile bucket over an
    // integer score — the "keep the top X% of EVERY source" primitive
    // (raw scores are not comparable across sources). percent_rank
    // tie semantics are engine-identical; the window sorts per source
    // lane, never globally.
    "quality_calibrated" -> ((s, dir) => {
      graft.operators.Splits.calibratePerGroup(
          tbl(s, dir, "documents"), "source", "n_chars", buckets = 10)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("q_rank"), col("q_bucket"))
        .orderBy(col("doc_id"))
    }),

    // Linear quality classifier serving (operators.QualityLR): the
    // fastText-stage shape with PINNED weights — the logit is a
    // fixed-order multiply-add over deterministic features, so serving
    // is oracle-hashed end to end (training itself is spec-gated:
    // L-BFGS fold order isn't hash-stable by design).
    "quality_lr_logit" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          graft.operators.QualityLR.logit(col("toks"), lrPinnedW).as("logit"),
          graft.operators.QualityLR.keep(col("toks"), lrPinnedW)
            .cast("long").as("keep"))
        .orderBy(col("doc_id"))),

    // The MODERN pretraining chain end-to-end, composing the curation
    // wave in production order: PII scrub (on planted text) → Gopher
    // quality gate → n-gram benchmark decontamination (threshold 0.08
    // bites on this corpus: max natural overlap 0.111) → temperature
    // mixing over surviving langs → group-aware split. One declarative
    // plan, one end-to-end oracle. Complements pipeline_curate (the
    // langid/dedup/cap chain) — together they cover both halves of a
    // real curation stack.
    "pipeline_pretrain" -> ((s, dir) => {
      import graft.operators.{Decontam, Pii, Splits}
      // widen the scan (guide §2.5): the redact/gopher regex chain
      // below otherwise checkpoints as ONE task on a one-split corpus
      // (profiled 2.3 s single-task at sf0.1); no-op at scale.
      // widenEager: a plain widen exchange gets the deterministic
      // regex projections sunk back below it (Scaling scaladoc).
      val red = piiAugmented(Scaling.widenEager(tbl(s, dir, "documents")))
        .withColumn("rtext", Pii.redact(col("t")))
      val toked = red.select(col("doc_id"), col("lang"), col("source"),
        col("rtext"), TextOps.tokens(col("rtext")).as("toks"))
      // the scrub+gate prefix feeds three consumers (benchmark grams,
      // candidate grams, the post-decontam join-back) — materialize it
      // once or the regex-heavy redact/gopher chain re-runs per branch
      // (measured 8.0 → 3.0 s warm at sf0.1)
      val gated = toked.filter(TextOps.gopherKeep(col("toks")))
        .localCheckpoint(true)
      val bench = gated.filter(pmod(col("doc_id"), lit(97L)) === 0)
      val cand = gated.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      val droppedIds = Decontam.ngramOverlap(cand, "doc_id", "rtext",
          bench, "doc_id", "rtext", n = 3)
        .filter(col("overlap") >= 0.08).select(col("doc_id"))
      val clean = cand.join(droppedIds, Seq("doc_id"), "left_anti")
      val mixed = Splits.mixByTemperature(clean, "doc_id", "lang", alpha = 0.5)
      Splits.assignByGroup(mixed, "source")
        .select(col("doc_id"), col("lang"), col("source"), col("split"),
          md5(col("rtext")).as("red_digest"))
        .orderBy(col("doc_id"))
    }),

    // Fuzzy decontamination (Decontam.fuzzyMinhash): MinHash band
    // collisions across the candidate/benchmark (doc_id%7) boundary —
    // the paraphrase-robust complement to contam_ngram's exact
    // collision check; broadcast benchmark signatures, corpus never
    // shuffles.
    "contam_fuzzy" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.operators.Decontam.fuzzyMinhash(
          docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0), "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(7L)) === 0), "doc_id", "text")
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Feature-hashing embedding (TextOps.hashEmbedding): the hashing
    // trick as a narrow per-row fold; gated by exploding the nonzero
    // coordinates — integer-exact, and the oracle recomputes them
    // RELATIONALLY (explode → group-by-sum), proving the per-row map
    // equals the aggregation semantics.
    "text_hash_embed" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(TextOps.hashEmbedding(col("toks"), 16))
            .as(Seq("i", "v")))
        .filter(col("v") =!= 0L)
        .select(col("doc_id"), col("i").cast("long").as("i"), col("v"))
        .orderBy(col("doc_id"), col("i"))),

    // Similarity search over RAW TEXT with no model in the loop: the
    // hashing-trick embeddings feed the exhaustive kNN join, and
    // because the coordinates are integers the squared-L2 distances
    // are EXACT BIGINTs — the whole text→embed→search composition is
    // oracle-hashed end to end.
    "text_knn_hashembed" -> ((s, dir) => {
      val emb = tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextOps.hashEmbedding(col("toks"), 16).cast("array<float>").as("emb"))
        .localCheckpoint(true) // feeds both knn sides — embed once
      Exhaustive.knnJoin(emb.filter(col("doc_id") < 3), "doc_id", "emb",
          emb, "doc_id", "emb", k = 5)
        .select(col("qid"), col("id"), col("distance").cast("long").as("distance"))
        .orderBy(col("qid"), col("distance"), col("id"))
    }),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    // hashed unigram+bigram bucket models, target = the corpus's own
    // English slice — "score raw docs by how target-like they look".
    // Weights are integer dot-products of per-doc bucket counts and
    // 1e-6-quantized log-ratios, so the lane hash-gates end to end;
    // the one ln per bucket (m=256 total) is the sketch_hll libm
    // concession class. Shuffle = doc→bucket postings + two ≤m-row
    // models; the ratio table broadcasts.
    "dsir_weights" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dsir.weights(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", m = 256)
        .orderBy(col("doc_id"))
    }),

    // Greedy DSIR selection: the 50 most-target-like documents,
    // TakeOrderedAndProject global top-n (per-partition heaps, never a
    // one-partition corpus window), then ranked. Deterministic ties by
    // doc_id.
    "dsir_select" -> ((s, dir) => {
      // widen: the gram-bucket md5 passes (scoring corpus AND the lane's
      // corpus-derived target) are compute-dense on a one-split scan
      val docs = Scaling.widen(tbl(s, dir, "documents"))
      Dsir.selectTop(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", n = 50, m = 256)
        .orderBy(col("rank"))
    }),

    // Corpus-scale DSIR selection: estimate the rank-n weight τ with
    // a distributed t-digest, filter (narrow), exactly trim only the
    // ~slack·n survivors — the TakeOrderedAndProject merge task then
    // receives O(n) rows instead of partitions × n (the r11 scale
    // audit's DSIR skew). Same result as selectTop by construction.
    "dsir_select_threshold" -> ((s, dir) => {
      val docs = Scaling.widen(tbl(s, dir, "documents"))
      Dsir.selectTopThreshold(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", n = 50, m = 256)
        .orderBy(col("rank"))
    }),

    // Resampled DSIR selection (the paper's Gumbel-top-n softmax
    // sampler) at temperature 2: content-addressed Gumbel noise on the
    // quantized log-weights — deterministic, oracle-replayed.
    "dsir_resample" -> ((s, dir) => {
      val docs = Scaling.widen(tbl(s, dir, "documents"))
      Dsir.selectResampled(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", n = 50, m = 256,
          temperature = 2.0)
        .orderBy(col("rank"))
    }),

    // BM25 lexical top-10 for 5 text queries (the corpus's own first 5
    // docs — every query has a perfect-match candidate). Rational
    // Robertson-Spärck-Jones idf (zero libm), per-term scores
    // 1e-9-quantized to BIGINT before the order-free per-pair sum;
    // candidate volume is Σ df over query terms (term-keyed posting
    // join), never |docs| × |queries|.
    "bm25_topk" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // RM3 pseudo-relevance feedback ("find more documents like
    // these"): seed top-3, pool postings, 5 new expansion terms by
    // pooled tf, rescore — integer-ranked expansion keeps the
    // two-pass pipeline oracle-exact.
    "bm25_rm3" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      Retrieval.buildIndex(docs, "doc_id", "text")
        .searchExpanded(qs, "qid", "qtext", k = 10, fbDocs = 3, fbTerms = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // BM25 with df-cap stopword pruning (maxDf=390 keeps ~20 of this
    // table's 31 terms): the candidate-volume lever at corpus scale —
    // capped terms never expand into postings. The capped ranking is
    // its own oracle contract (a capped term contributes 0).
    "bm25_dfcap" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      Retrieval.buildIndex(docs, "doc_id", "text")
        .searchTopK(qs, "qid", "qtext", k = 10, maxDf = Some(390L))
        .orderBy(col("qid"), col("rank"))
    }),

    // Incremental add: index the first half, add the second half —
    // the merged index must serve the full-corpus ranking (idf and
    // avgdl re-derive from the widened postings), so the oracle is
    // the plain bm25_topk SQL.
    "bm25_add" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      Retrieval.buildIndex(docs.filter(col("doc_id") < 250), "doc_id", "text")
        .add(docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .searchTopK(qs, "qid", "qtext", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Remove: df/dl/avgdl must re-derive — a removed doc stops
    // influencing every OTHER doc's score too; oracle = the bm25
    // chain over the shrunken corpus.
    "bm25_remove" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      Retrieval.buildIndex(docs, "doc_id", "text")
        .remove(docs.filter(col("doc_id") >= 250).select("doc_id"), "doc_id")
        .searchTopK(qs, "qid", "qtext", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // BM25 over BUCKETED postings (doc_id-bucketed catalog table):
    // the (qid, doc_id) score combine plans NO exchange — the serving
    // layout at warehouse scale; identical ranking, same oracle.
    "bm25_bucketed" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      val path = scratchDir("bm25_bkt")
      Retrieval.buildIndex(docs, "doc_id", "text")
        .saveBucketed("bm25_lane_postings", path, numBuckets = 4)
      Retrieval.loadBucketedIndex(s, "bm25_lane_postings", path)
        .searchTopK(qs, "qid", "qtext", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // BM25 index lifecycle: build → save → load → serve. The loaded
    // index answers the same 5 queries from its persisted posting /
    // df / dl / stats frames — raw text never re-tokenizes at serving
    // time; oracle = the bm25_topk SQL verbatim.
    "bm25_persist" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      val tmp = scratchDir("bm25_persist")
      Retrieval.buildIndex(docs, "doc_id", "text").save(tmp)
      Retrieval.loadIndex(s, tmp).searchTopK(qs, "qid", "qtext", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Exact phrase search (positional intersect): each query phrase =
    // the first 3 tokens of its own doc; the term-keyed posting join
    // anchors candidates at pos − qpos, full-offset coverage = one
    // verbatim occurrence.
    "phrase_search" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 3))
            .as("phrase"))
      Retrieval.phraseSearch(docs, "doc_id", "text", qs, "qid", "phrase")
        .orderBy(col("qid"), col("doc_id"))
    }),

    // Phrase serving FROM THE PERSISTED INDEX (build positional →
    // save → load → phraseSearchIndexed): the corpus tokenizes once
    // at build; the loaded (doc_id, term, pos) frame answers phrase
    // batches with a term-keyed probe — no serve-time re-tokenize,
    // the r10 verdict's last full-corpus serve pass closed. Oracle =
    // the phrase_search SQL verbatim.
    "phrase_persist" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 3))
            .as("phrase"))
      val tmp = scratchDir("phrase_persist")
      val built = Retrieval.buildIndex(docs, "doc_id", "text",
        positional = true)
      built.save(tmp)
      built.unpersist()
      Retrieval.loadIndex(s, tmp)
        .phraseSearchIndexed(qs, "qid", "phrase")
        .orderBy(col("qid"), col("doc_id"))
    }),

    // Late-interaction MaxSim retrieval (ColBERT, Khattab & Zaharia
    // 2020): Σ over query tokens of (max over doc tokens of dot), on
    // hashing-trick char-trigram token embeddings — integer vectors,
    // so per-pair dots, maxes and sums are exact BIGINTs and DuckDB
    // replays the whole multi-vector pipeline (grid-densified sparse
    // dot, max commutes with the monotone quantization).
    "maxsim_exact" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // full-corpus token frame: widen the embed+join across cores
      // (one parquet split would otherwise run it single-task)
      val dToks = LateInteraction.tokenVectors(docs, "doc_id", "text",
        wide = true)
      val qToks = queryTokens(docs)
      LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
          dToks, "doc_id", "vec", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // The serving face: per-query-token top-m corpus tokens shortlist
    // the candidate docs (TopKAggExpr partial heaps), exact rescore on
    // candidates only. m = the corpus token count makes the shortlist
    // cover everything — the lane is then exactly the exhaustive
    // MaxSim, same replay (the sq8_search_all probe-all idiom) — over
    // a 50-doc corpus: the convergence pin's heap size IS m, so it
    // must run on a bounded corpus (serving uses small m — the recall
    // lever; the full-corpus exhaustive face is maxsim_exact's lane).
    "maxsim_shortlisted" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      LateInteraction.maxSimShortlisted(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", k = 10, m = t.m)
        .orderBy(col("qid"), col("rank"))
    }),

    // MaxSim serving FROM THE PERSISTED TOKEN FRAME: embed once →
    // saveTokens → loadTokens → exhaustive MaxSim — the multi-vector
    // tier's save/load lifecycle (ColBERT's index artifact IS the
    // token-embedding frame; no serve-time embedding pass). Oracle =
    // the maxsim_exact replay verbatim.
    "maxsim_persist" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val tmp = scratchDir("maxsim_persist")
      // embed once: the doc-clustered save's range sampler would
      // otherwise re-run the embed (the sibling lanes' dToks0 idiom)
      LateInteraction.saveTokens(
        LateInteraction.tokenVectors(docs, "doc_id", "text",
          wide = true).localCheckpoint(true), tmp)
      val dToks = LateInteraction.loadTokens(s, tmp)
      val qToks = queryTokens(docs)
      LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
          dToks, "doc_id", "vec", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // ANN-backed MaxSim serving: stage 1 runs through the token-level
    // IVF MIPS tier (tokens norm-augmented so L2 top-m IS dot top-m;
    // each query token probes cells instead of scanning the corpus —
    // the engine's last full-corpus-per-batch serving face closed).
    // Degenerate-exact gate: nprobe = cell count (probe-all) and m =
    // corpus token count make the candidate set every doc, and stage 2
    // rescores exactly — ≡ maxsim_exact over the same bounded corpus,
    // the sq8_search_all probe-all idiom (m is corpus-sized by
    // construction, so the lane pins on 50 docs like maxsim_
    // shortlisted; serving uses small m/nprobe — the recall levers).
    "maxsim_ivf" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val m = t.m
      val idx = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
        "vec", tokenIvfParams)
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // The multi-vector tier's production serving path end-to-end FROM
    // DISK (the hybrid_loaded discipline): token frame saved + loaded,
    // TokenIvf saved + loaded (maxNorm sidecar included), ANN stage 1
    // over the loaded tier, PLAID cap, exact rescore on the loaded
    // tokens — nothing recomputed at serve time. Degenerate config ⇒
    // the same bounded-corpus exhaustive replay.
    "maxsim_loaded" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val tmp = scratchDir("maxsim_loaded")
      // token-frame save and tier build+save are independent consumers
      // of the checkpointed frame — overlap them (guide §2.6)
      val (_, built) = Overlap.par2(
        LateInteraction.saveTokens(t.dToks, tmp), {
          val b = LateInteraction.buildTokenIvf(t.dToks, "doc_id",
            "tok_idx", "vec", tokenIvfParams)
          b.save(s"$tmp/tivf")
          b
        })
      built.ivf.indexed.unpersist()
      val dToks = LateInteraction.loadTokens(s, tmp)
      val idx = LateInteraction.loadTokenIvf(s, s"$tmp/tivf")
      val m = dToks.count().toInt
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k,
          cap = 50)
        .orderBy(col("qid"), col("rank"))
    }),

    // PLAID candidate pruning on the ANN face (Santhanam et al. 2022):
    // stage 1's recovered dots rank candidate docs approximately and
    // only the top-`cap` per query reach the exact rescore — stage 2
    // is cap-bounded instead of (q-tokens × m)-bounded, the high-m
    // serving wall. Degenerate-exact gate: probe-all + m = corpus
    // tokens + cap = doc count keeps every doc through the PRUNING
    // PIPELINE (finite cap exercises it) — ≡ maxsim_exact on the
    // bounded corpus, same replay.
    "maxsim_pruned" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val m = t.m
      val idx = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
        "vec", tokenIvfParams)
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k,
          cap = 50)
        .orderBy(col("qid"), col("rank"))
    }),

    // The compressed twin: stage 1 probes SQ8 byte codes (≈¼ scan
    // residency — ColBERTv2's compression motivation), stage 2 exact
    // on the full-precision token frame. Same degenerate-exact gate.
    "maxsim_sq8" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val m = t.m
      val idx = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
          "vec", tokenIvfParams)
        .compress()
      LateInteraction.maxSimSq8(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // The residual-PQ twin (ColBERTv2/PLAID's storage tier, Santhanam
    // 2022 §3): stage 1 probes m-byte residual-ADC codes (each token
    // recentered on its IVF cell, the residual product-quantized —
    // ~17× below float residency at m=4 where SQ8 stops at ~3.5×),
    // stage 2 exact on the full-precision token frame. Degenerate-
    // exact gate: probe-all + m = corpus tokens keeps every probed
    // token in every heap REGARDLESS of ADC ordering, so candidates
    // cover every doc and stage 2 IS the exhaustive face — same
    // bounded-corpus replay.
    "maxsim_pq" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val m = t.m
      val ivf = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
        "vec", tokenIvfParams)
      // augmented dim 17 zero-pads to 20 (compressPq's padding
      // contract) → m = 4 subspaces of 5 dims: 4 B/token codes
      val idx = ivf.compressPq(graft.index.PQ.Params(m = 4, k = 16,
        iterations = 4, seed = 7L))
      ivf.ivf.indexed.unpersist()
      LateInteraction.maxSimPq(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Zipf-skew repair composed with the compressed serving tier in
    // one driver-gated lane: the float token tier splits its hot cells
    // (maxCellFactor 0.5 puts the cap below the mean, forcing real
    // splits on any draw), the SPLIT tier residual-PQ-compresses
    // (codes re-encode against the sub-cell centroids — the route
    // splitHotCells' scaladoc prescribes for lossy tiers), and the
    // compressed tier serves at probe-all + m = corpus tokens, where
    // stage 2's exact rescore makes the lane ≡ the exhaustive oracle.
    "maxsim_split_pq" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val m = t.m
      val ivf = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
        "vec", tokenIvfParams)
      val split = ivf.splitHotCells(maxCellFactor = 0.5, iterations = 2)
      val idx = split.compressPq(graft.index.PQ.Params(m = 4, k = 16,
        iterations = 4, seed = 7L))
      ivf.ivf.indexed.unpersist()
      LateInteraction.maxSimPq(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m,
          nprobe = split.ivf.centroids.length)
        .orderBy(col("qid"), col("rank"))
    }),

    // The PQ tier's production serving path end-to-end FROM DISK (the
    // maxsim_loaded discipline): doc-clustered token frame saved +
    // loaded, TokenPq saved (cluster-partitioned 4 B/token codes +
    // maxNorm sidecar) + loaded, residual-ADC stage 1 over the loaded
    // codes, exact rescore on the loaded tokens. Degenerate config ⇒
    // the bounded-corpus exhaustive replay.
    "maxsim_pq_loaded" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val tmp = scratchDir("maxsim_pq_loaded")
      // token-frame save and tier build+compress+save are independent
      // consumers of the checkpointed frame — overlap them (guide §2.6)
      val (_, built) = Overlap.par2(
        LateInteraction.saveTokens(t.dToks, tmp), {
          val b = LateInteraction.buildTokenIvf(t.dToks, "doc_id",
            "tok_idx", "vec", tokenIvfParams)
          b.compressPq(graft.index.PQ.Params(m = 4, k = 16,
            iterations = 4, seed = 7L)).save(s"$tmp/tpq")
          b
        })
      built.ivf.indexed.unpersist()
      val dToks = LateInteraction.loadTokens(s, tmp)
      val idx = LateInteraction.loadTokenPq(s, s"$tmp/tpq")
      val m = dToks.count().toInt
      LateInteraction.maxSimPq(t.qToks, "qid", "tok_idx", "vec",
          dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Index::add on the PQ TIER: build + compress over half the
    // corpus (full-corpus norm ceiling as the MIPS bound), then
    // TokenPq.add the other half — the fused frozen-parts
    // assign+encode pass, no re-train. Probe-all + m = corpus tokens
    // covers everything, so the grown tier replays the bounded
    // exhaustive oracle.
    "maxsim_pq_add" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      // one pass over the checkpointed tokens for BOTH serve-time
      // constants (corpus token count + norm ceiling) — was two actions
      val mb = t.dToks.agg(count(lit(1)),
        max(sqrt(dot(col("vec"), col("vec"))))).head()
      val (m, bound) = (mb.getLong(0).toInt, mb.getDouble(1))
      val half = LateInteraction.buildTokenIvf(
        t.dToks.filter(col("doc_id") < 25), "doc_id", "tok_idx", "vec",
        tokenIvfParams, maxNormBound = bound)
      val idx = half.compressPq(graft.index.PQ.Params(m = 4, k = 16,
          iterations = 4, seed = 7L))
        .add(t.dToks.filter(col("doc_id") >= 25), "doc_id", "tok_idx",
          "vec")
      half.ivf.indexed.unpersist()
      LateInteraction.maxSimPq(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Index::remove on the PQ TIER: broadcast anti-join on the
    // unpacked doc prefix of the packed code id — a whole document's
    // codes leave in one pass, grid/codebooks/sizes frozen. The
    // trimmed tier at probe-all over the kept token frame replays the
    // 50-doc exhaustive oracle.
    "maxsim_pq_remove" -> ((s, dir) => {
      val t = tokenCorpus(s, dir, nDocs = 60)
      val built = LateInteraction.buildTokenIvf(t.dToks, "doc_id",
        "tok_idx", "vec", tokenIvfParams)
      val idx = built.compressPq(graft.index.PQ.Params(m = 4, k = 16,
          iterations = 4, seed = 7L))
        .remove(t.docs.filter(col("doc_id") >= 50).select(col("doc_id")),
          "doc_id")
      built.ivf.indexed.unpersist()
      val kept = t.dToks.filter(col("doc_id") < 50)
      val m = kept.count().toInt
      LateInteraction.maxSimPq(t.qToks, "qid", "tok_idx", "vec",
          kept, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Index::add on the multi-vector ANN TIER (not just the token
    // frame): build the IVF tier over half the corpus with the full
    // corpus's norm ceiling as the MIPS bound, then TokenIvf.add the
    // other half — the frozen-centroid assign pass, no rebuild.
    // Probe-all + m = corpus tokens covers everything, so the grown
    // tier replays the bounded-corpus exhaustive oracle.
    "maxsim_ivf_add" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      // one pass over the checkpointed tokens for BOTH serve-time
      // constants (corpus token count + norm ceiling) — was two actions
      val mb = t.dToks.agg(count(lit(1)),
        max(sqrt(dot(col("vec"), col("vec"))))).head()
      val (m, bound) = (mb.getLong(0).toInt, mb.getDouble(1))
      val idx = LateInteraction.buildTokenIvf(
          t.dToks.filter(col("doc_id") < 25), "doc_id", "tok_idx", "vec",
          tokenIvfParams, maxNormBound = bound)
        .add(t.dToks.filter(col("doc_id") >= 25), "doc_id", "tok_idx", "vec")
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Index::remove on the multi-vector ANN TIER: one broadcast
    // anti-join on the unpacked doc half of the packed token id —
    // a whole document's token rows leave in one pass, centroids and
    // sizes frozen (post-remove stale sizes would NARROW adaptive
    // probing, which is why serving passes an explicit nprobe). The
    // trimmed tier at probe-all over the kept token frame replays the
    // 50-doc exhaustive oracle.
    "maxsim_ivf_remove" -> ((s, dir) => {
      val t = tokenCorpus(s, dir, nDocs = 60)
      val idx = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
          "vec", tokenIvfParams)
        .remove(t.docs.filter(col("doc_id") >= 50).select(col("doc_id")),
          "doc_id")
      val kept = t.dToks.filter(col("doc_id") < 50)
      val m = kept.count().toInt
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          kept, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Post-takedown probe repair on the multi-vector ANN TIER: after
    // the same ≥50 takedown as maxsim_ivf_remove, rebalance moves the
    // centroids to the SURVIVING token mass (Lloyd's update→assign ×2)
    // and recounts cell sizes — the remedy remove's own doc
    // prescribes, now reachable on the tier. Correctness is
    // probe-placement-invariant at probe-all (every cell scanned
    // regardless of where rebalanced centroids landed), so the
    // repaired tier replays the same 50-doc exhaustive oracle; the
    // recall-at-fixed-nprobe recovery is the LateInteractionSpec gate.
    "maxsim_ivf_rebalance" -> ((s, dir) => {
      val t = tokenCorpus(s, dir, nDocs = 60)
      val idx = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
          "vec", tokenIvfParams)
        .remove(t.docs.filter(col("doc_id") >= 50).select(col("doc_id")),
          "doc_id")
        .rebalance(iterations = 2)
      val kept = t.dToks.filter(col("doc_id") < 50)
      val m = kept.count().toInt
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          kept, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Shard-merge on the multi-vector ANN TIER — the distributed
    // build's landing face (build per corpus shard, merge the shards;
    // the token tier's last missing lifecycle op). The two halves
    // derive DIFFERENT natural MIPS bounds, so the merge exercises
    // the re-augmentation path: the larger-bound tier survives and
    // the smaller side's tokens re-augment under its bound before
    // the frozen-centroid assign pass. Probe-all + m = corpus tokens
    // over the merged tier ⇒ ≡ one build over the union ⇒ the
    // bounded-corpus exhaustive replay.
    "maxsim_ivf_merge" -> ((s, dir) => {
      val t = tokenCorpus(s, dir)
      val m = t.m
      // the two shard builds are independent (both read the
      // checkpointed token frame) — overlap them (guide §2.6); the
      // merge consumes the same two models either way
      val (lo, hi) = Overlap.par2(
        LateInteraction.buildTokenIvf(
          t.dToks.filter(col("doc_id") < 25), "doc_id", "tok_idx", "vec",
          tokenIvfParams),
        LateInteraction.buildTokenIvf(
          t.dToks.filter(col("doc_id") >= 25), "doc_id", "tok_idx", "vec",
          tokenIvfParams))
      val idx = lo.merge(hi)
      LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .orderBy(col("qid"), col("rank"))
    }),

    // Index::add on the multi-vector tier (base.rs:28 — add is half
    // the reference's API): token frames are monoids under doc-
    // disjoint union, so embedding two halves separately and
    // addTokens-ing them serves identically to one build over the
    // union — the end state IS the 50-doc corpus, so the bounded
    // maxsim oracle gates it hash-for-hash.
    "maxsim_add" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val toks = LateInteraction.addTokens(
        LateInteraction.tokenVectors(
          docs.filter(col("doc_id") < 25), "doc_id", "text"),
        LateInteraction.tokenVectors(
          docs.filter(col("doc_id") >= 25 && col("doc_id") < 50),
          "doc_id", "text"))
      val qToks = queryTokens(docs)
      LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
          toks, "doc_id", "vec", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Index::remove on the multi-vector tier: broadcast anti-join on
    // doc_id; no derived corpus statistics exist to re-derive (MaxSim
    // scores are per-(query, doc)), so remove(60-docs, [50..59]) ≡
    // the 50-doc corpus exactly — same bounded oracle.
    "maxsim_remove" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val toks = LateInteraction.removeTokens(
        LateInteraction.tokenVectors(
          docs.filter(col("doc_id") < 60), "doc_id", "text"),
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
          .select(col("doc_id")), "doc_id")
      val qToks = queryTokens(docs)
      LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
          toks, "doc_id", "vec", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Hybrid lexical+vector search: BM25 top-10 fused (reciprocal-rank,
    // k0=60) with exact-kNN top-10 for 3 queries that carry both faces.
    // rrf = two IEEE divisions + one add per fused row — deterministic;
    // fusion touches only the ≤20 candidates per query.
    "rrf_hybrid" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qs = textQueries(docs, 3)
      Retrieval.hybridSearch(docs, "doc_id", "text",
          emb, "vec_id", "embedding", qs, "qid", "qtext",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Hybrid lexical ⊕ late-interaction serving: BM25 top-10 RRF-fused
    // with MaxSim top-10 over the same bounded corpus (the corpus
    // bound is the maxsim-oracle heap discipline — see
    // maxsim_shortlisted). Lexical exact-term evidence and
    // multi-vector partial/paraphrase evidence fuse rank-wise; the
    // fusion itself is candidate-list-sized (rrfFuse's contract).
    "hybrid_maxsim" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("doc_id") < 50)
      val qs = textQueries(docs, 3)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
          "qtext", k = 10)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val dToks = LateInteraction.tokenVectors(docs, "doc_id", "text")
      val qToks = queryTokens(docs)
      val ms = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
          dToks, "doc_id", "vec", k = 10)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val wr = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("id").asc)
      Retrieval.rrfFuse(lex, ms)
        .withColumn("rank", row_number().over(wr))
        .orderBy(col("qid"), col("rank"))
    }),

    // Radius search under COSINE distance (1 − a·b, the HNSW metric):
    // same zero-shuffle broadcast scan, different codegen'd kernel —
    // "everything within angular distance τ" duplicate sweeps.
    "range_search_cosine" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Exhaustive.rangeSearch(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", emb, "vec_id", "embedding", radius = 0.9,
          metric = "cosine")
        .orderBy(col("qid"), col("id"))
    }),

    // Hybrid serving composed from TWO indexes — the BM25 posting
    // index and the IVF tier (probe-all ⇒ exact, so the rrf_hybrid
    // oracle replays it verbatim): bm25TopK ⊕ searchMany → rrfFuse.
    // The swap-an-index composition hybridSearch's doc promises.
    "hybrid_ivf" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qs = textQueries(docs, 3)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
          "qtext", k = 10)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val cents = fixedCentroids(emb)
      val model = pinnedIvf(emb, cents)
      val wv = Window.partitionBy(col("qid"))
        .orderBy(col("distance").asc, col("id").asc)
      val vec = model.searchMany(emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", k = 10, nprobe = cents.length)
        .withColumn("rank", row_number().over(wv))
        .select(col("qid"), col("id"), col("rank"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("id").asc)
      Retrieval.rrfFuse(lex, vec).withColumn("rank", row_number().over(w))
        .orderBy(col("qid"), col("rank"))
    }),

    // The PRODUCTION hybrid serving path: BOTH tiers load from disk
    // (doc_id-bucketed BM25 postings through the catalog + the saved
    // IVF index at probe-all ⇒ exact), zero build at serve time, then
    // rrfFuse over the two candidate lists. hybrid_ivf gates the
    // composition built inline; this lane gates it from the persisted
    // artifacts — same oracle replay.
    "hybrid_loaded" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qs = textQueries(docs, 3)
      // the two tier build+save+load blocks are independent — overlap
      // them from driver threads (guide §2.6); same artifacts, same fuse
      val (lex, vec) = Overlap.par2({
        val bPath = scratchDir("hyb_bm25")
        val built = Retrieval.buildIndex(docs, "doc_id", "text")
        built.saveBucketed("hybrid_loaded_postings", bPath, numBuckets = 4)
        built.unpersist()
        Retrieval.loadBucketedIndex(s, "hybrid_loaded_postings", bPath)
          .searchTopK(qs, "qid", "qtext", k = 10)
          .select(col("qid"), col("doc_id").as("id"), col("rank"))
      }, {
        val cents = fixedCentroids(emb)
        val iPath = scratchDir("hyb_ivf")
        pinnedIvf(emb, cents).save(iPath)
        val model = IVFFlat.load(s, iPath)
        val wv = Window.partitionBy(col("qid"))
          .orderBy(col("distance").asc, col("id").asc)
        model.searchMany(emb.filter(col("vec_id") < 3), "vec_id",
            "embedding", k = 10, nprobe = cents.length)
          .withColumn("rank", row_number().over(wv))
          .select(col("qid"), col("id"), col("rank"))
      })
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("id").asc)
      Retrieval.rrfFuse(lex, vec).withColumn("rank", row_number().over(w))
        .orderBy(col("qid"), col("rank"))
    }),

    // TRIPLE-hybrid serving — the full retrieval matrix fused end-to-
    // end: BM25 (bucketed catalog postings) ⊕ dense kNN (saved IVF
    // tier at probe-all ⇒ exact) ⊕ late-interaction MaxSim (saved
    // doc-clustered token frame + saved TokenIvf at probe-all ⇒
    // exact), ALL THREE tiers loaded from disk (the hybrid_loaded
    // discipline — zero build state at serve time), fused through ONE
    // rrfFuseAll pass. Pins cross-tier id/score-scale agreement: a
    // drift in any tier's ids or rank ordering breaks the three-way
    // full-outer fusion hash. Corpus bounded to 50 docs on the
    // lexical+maxsim sides (the maxsim-oracle heap discipline).
    "hybrid_trio" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("doc_id") < 50)
      val emb = tbl(s, dir, "embeddings")
      val qs = textQueries(docs, 3)
      // The three tier builds are INDEPENDENT (disjoint artifacts,
      // disjoint catalog names) — submit them from driver threads so
      // each tier's build/save jobs back-fill the executor slots the
      // others' serial steps leave idle (optimization guide §2.6
      // "overlap independent jobs"). Results identical: the fused
      // frame reads the same three artifacts either way.
      val (lex, vec, ms) = Overlap.par3({
        // tier 1: lexical — bucketed postings through the catalog
        val bPath = scratchDir("trio_bm25")
        val built = Retrieval.buildIndex(docs, "doc_id", "text")
        built.saveBucketed("hybrid_trio_postings", bPath, numBuckets = 4)
        built.unpersist()
        Retrieval.loadBucketedIndex(s, "hybrid_trio_postings", bPath)
          .searchTopK(qs, "qid", "qtext", k = 10)
          .select(col("qid"), col("doc_id").as("id"), col("rank"))
      }, {
        // tier 2: dense — saved IVF index, probe-all ⇒ exact top-10
        val cents = fixedCentroids(emb)
        val iPath = scratchDir("trio_ivf")
        pinnedIvf(emb, cents).save(iPath)
        val wv = Window.partitionBy(col("qid"))
          .orderBy(col("distance").asc, col("id").asc)
        IVFFlat.load(s, iPath)
          .searchMany(emb.filter(col("vec_id") < 3), "vec_id", "embedding",
            k = 10, nprobe = cents.length)
          .withColumn("rank", row_number().over(wv))
          .select(col("qid"), col("id"), col("rank"))
      }, {
        // tier 3: late interaction — saved token frame + saved TokenIvf,
        // probe-all + m = corpus tokens ⇒ exact MaxSim top-10
        val tPath = scratchDir("trio_tok")
        val t = tokenCorpus(s, dir)
        // the token-frame save and the tier build are themselves
        // independent consumers of the checkpointed frame — overlap
        val (_, builtTier) = Overlap.par2(
          LateInteraction.saveTokens(t.dToks, tPath), {
            val bt = LateInteraction.buildTokenIvf(t.dToks, "doc_id",
              "tok_idx", "vec", tokenIvfParams)
            bt.save(s"$tPath/tivf")
            bt
          })
        builtTier.ivf.indexed.unpersist()
        val dToks = LateInteraction.loadTokens(s, tPath)
        val mTok = dToks.count().toInt
        LateInteraction.maxSimIvf(t.qToks, "qid", "tok_idx", "vec",
            dToks, "doc_id", "vec",
            LateInteraction.loadTokenIvf(s, s"$tPath/tivf"),
            k = 10, m = mTok, nprobe = tokenIvfParams.k)
          .select(col("qid"), col("doc_id").as("id"), col("rank"))
      })
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("id").asc)
      Retrieval.rrfFuseAll(Seq(lex, vec, ms))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("qid"), col("rank"))
    }),

    // Incremental add AGAINST the bucketed layout: add new docs to a
    // loaded index, re-save bucketed, re-load, serve — the widened
    // index must both rank like a scratch build (the bm25_add oracle)
    // and keep the zero-exchange bucketed score combine
    // (BucketedSpec/PlanSpec gate the plan shape).
    "bm25_bucketed_add" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val qs = textQueries(docs, 5)
      val p1 = scratchDir("bkt_add1")
      val half = Retrieval.buildIndex(docs.filter(col("doc_id") < 250),
        "doc_id", "text")
      half.saveBucketed("bm25_bktadd_half", p1, numBuckets = 4)
      half.unpersist()
      val widened = Retrieval.loadBucketedIndex(s, "bm25_bktadd_half", p1)
        .add(docs.filter(col("doc_id") >= 250), "doc_id", "text")
      val p2 = scratchDir("bkt_add2")
      widened.saveBucketed("bm25_bktadd_full", p2, numBuckets = 4)
      Retrieval.loadBucketedIndex(s, "bm25_bktadd_full", p2)
        .searchTopK(qs, "qid", "qtext", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Exact radius search (FAISS range_search shape): every corpus
    // point within sqdist ≤ 1.8 of each of 5 queries — broadcast
    // queries, ONE corpus scan, no shuffle (cheapest query shape in
    // Exhaustive); boundary inclusive.
    "range_search" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Exhaustive.rangeSearch(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", emb, "vec_id", "embedding", radius = 1.8)
        .orderBy(col("qid"), col("id"))
    }),
  )

  /** Pinned serving weights for quality_lr_logit (bias-first, aligned
    * with QualityLR.features) — shared with the oracle SQL below. */
  private val lrPinnedW = Seq(-2.0, 1.5, 0.5, 1.0, 2.0)

  /** Build-vs-search wall-second split for the index-building bench
    * queries. The monolithic `queries` timings fold index construction
    * (a fixed cost, amortized over every query in real serving) into the
    * per-query number; these twins time the two phases separately so the
    * bench JSON makes the fixed cost diagnosable. Each entry uses the
    * SAME params as its `queries` twin and forces materialization at the
    * phase boundary. */
  def benchPhases: Map[String, (SparkSession, String) => (Double, Double)] = Map(
    // build = the two one-time bucketed writes; search = the join+agg
    // they buy (exchange-free — at scale the write amortizes over
    // every join on the key, so the split is the honest reading)
    "bucket_join_colocated" -> ((s, dir) => {
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val base = scratchDir("bucket_ph")
      val (to, tl) = (s"graft_bpo_$run", s"graft_bpl_$run")
      val t0 = System.nanoTime()
      writeColocated(s, dir, base, to, tl)
      val t1 = System.nanoTime()
      colocatedJoinAgg(s, to, tl).count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    "hnsw_knn" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val t0 = System.nanoTime()
      val model = HNSW.build(emb, "vec_id", "embedding", hnswKnnParams,
        numShards = 8)
      val t1 = System.nanoTime()
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    // build = embed + token-IVF k-means + residual-PQ codebook train +
    // encode; search = the probed codegen-ADC serve — the split shows
    // the lane is build-dominated (the one-time cost a deployment
    // amortizes over every query batch)
    "maxsim_pq" -> ((s, dir) => {
      val t0 = System.nanoTime()
      val t = tokenCorpus(s, dir)
      val m = t.m
      val ivf = LateInteraction.buildTokenIvf(t.dToks, "doc_id", "tok_idx",
        "vec", tokenIvfParams)
      val idx = ivf.compressPq(graft.index.PQ.Params(m = 4, k = 16,
        iterations = 4, seed = 7L))
      idx.pq.codes.count()
      ivf.ivf.indexed.unpersist()
      val t1 = System.nanoTime()
      LateInteraction.maxSimPq(t.qToks, "qid", "tok_idx", "vec",
          t.dToks, "doc_id", "vec", idx, k = 10, m = m, nprobe = tokenIvfParams.k)
        .count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    "lsh_knn" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val t0 = System.nanoTime()
      val model = LSHForest.build(emb, "vec_id", "embedding", lshKnnParams)
      val t1 = System.nanoTime()
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    "ivf_kmeans" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val t0 = System.nanoTime()
      val model = IVFFlat.build(emb, "vec_id", "embedding", ivfKmeansParams)
      val t1 = System.nanoTime()
      model.indexed.groupBy(col("cluster")).count().count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    "pq_ivf_fixed" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val t0 = System.nanoTime()
      val cents = fixedCentroids(emb)
      val built = pinnedIvfpq(emb, cents, fixedCodebooks(emb, 4))
      // build() is lazy by design (train() checkpoints); force the codes
      // here so the phase boundary is honest
      val model = built.copy(codes = built.codes.localCheckpoint(true))
      val t1 = System.nanoTime()
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2)
        .count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    "sq8_search_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val t0 = System.nanoTime()
      val cents = fixedCentroids(emb)
      val sq8 = graft.index.SQ8.compress(pinnedIvf(emb, cents))
      val model = sq8.copy(codes = sq8.codes.localCheckpoint(true))
      val t1 = System.nanoTime()
      model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = model.params.k)
        .count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    // BQ twin of the SQ8 split: build = assign + sign-pack (forced),
    // search = probe-all asymmetric scan.
    "bq_asym_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val t0 = System.nanoTime()
      val cents = fixedCentroids(emb)
      val bq = graft.index.BQ.compress(pinnedIvf(emb, cents))
      val model = bq.copy(codes = bq.codes.localCheckpoint(true))
      val t1 = System.nanoTime()
      model.searchManyAsym(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = model.params.k)
        .count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
    // Winnow split: build = fingerprint posting-list materialization
    // (the per-doc gram+winnow pass), search = the df-capped
    // inverted-index pair join — separates the narrow fingerprint scan
    // from the join cost the dfCap bounds.
    "dedup_winnow" -> ((s, dir) => {
      val docs = Scaling.widen(tbl(s, dir, "documents")) // as the lane
      val t0 = System.nanoTime()
      val ex = Dedup.winnowPostings(docs, "doc_id", "text").persist()
      ex.count()
      val t1 = System.nanoTime()
      Dedup.jaccardPairsOf(Dedup.capPostings(ex, 64), 0.5).count()
      val t2 = System.nanoTime()
      ex.unpersist()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }),
  )

  /** DuckDB score expression for the bisector plane of (v_ai, v_bi)
    * applied to vector column `v` — mirrors LSHForest.bisectorPlane +
    * pointIsAbove fold-for-fold (terms from first element, const last;
    * see VectorOps precision contract). */
  private def lshScoreSql(ai: Int, bi: Int, v: String): String =
    s"""(list_reduce(list_transform(list_zip(
       |    (SELECT embedding FROM embeddings WHERE vec_id = $bi),
       |    (SELECT embedding FROM embeddings WHERE vec_id = $ai), $v),
       |  x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * CAST(x[3] AS DOUBLE)),
       |  (s, t) -> s + t)
       | - list_reduce(list_transform(list_zip(
       |    (SELECT embedding FROM embeddings WHERE vec_id = $bi),
       |    (SELECT embedding FROM embeddings WHERE vec_id = $ai)),
       |  x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |     * ((CAST(x[2] AS DOUBLE) + CAST(x[1] AS DOUBLE)) / 2.0)),
       |  (s, t) -> s + t))""".stripMargin

  /** DuckDB sqdist of two list slices [lo:hi] (1-based inclusive), the
    * VectorOps double-fold shape — shared by the PQ oracles. */
  private def pqSliceSqSql(a: String, b: String, lo: Int, hi: Int): String =
    s"list_reduce(list_transform(list_zip($a[$lo:$hi], $b[$lo:$hi]), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) " +
      "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b)"

  /** The pinned-codebook PQ assignment CTEs (m=4, dsub=16, codebook =
    * `src` vec_id < 16): cb + a0..a3 + assigned. `src` must provide
    * (vec_id, embedding) — the raw table for the plain lanes, the
    * rotated-REAL frame for pq_rot_fixed. */
  private def pqAssignCtesSqlOver(src: String): String = {
    val sub = (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = (s + 1) * 16
      s"a$s AS (SELECT c.vec_id AS id, CAST(k.cid AS INT) AS c$s " +
        s"FROM $src c CROSS JOIN cb k " +
        "QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY " +
        pqSliceSqSql("k.cvec", "c.embedding", lo, hi) + ", k.cid) = 1)"
    }.mkString(",\n")
    s"cb AS (SELECT vec_id AS cid, embedding AS cvec FROM $src WHERE vec_id < 16),\n" +
      sub + ",\n" +
      "assigned AS (SELECT id, c0, c1, c2, c3 FROM a0 " +
      "JOIN a1 USING(id) JOIN a2 USING(id) JOIN a3 USING(id))"
  }
  private def pqAssignCtesSql: String = pqAssignCtesSqlOver("embeddings")

  /** MinHash band-bucket CTE chain ending in `bands(doc_id, band, key)`
    * — the signature stage shared by the pair, component, and
    * prefix-keep-first oracles. */
  private def minhashBandsCtesOf(numHashes: Int, bandSize: Int): String = {
    val P = TextOps.MinhashP
    val numBands = numHashes / bandSize
    val mhs = (0 until numHashes).map(i =>
      s"list_min(list_transform(hs, h -> (h.h1 + $i * h.h2) % $P)) AS mh_$i")
      .mkString(",\n  ")
    // band keys mirror Dedup.minhashBands/TextHashFast.bandKey: r = 2
    // keeps the arithmetic sig0·P + sig1 packing; other r use the
    // 60-bit md5 fold of the comma-joined band values (the hashPair
    // "first 15 hex chars" convention)
    val keys = (0 until numBands).map { b =>
      if (bandSize == 2) s"mh_${2 * b} * $P + mh_${2 * b + 1}"
      else {
        val cc = (0 until bandSize).map(j => s"mh_${b * bandSize + j}")
          .mkString(", ")
        s"CAST(concat('0x', substr(md5(concat_ws(',', $cc)), 1, 15)) AS BIGINT)"
      }
    }.mkString(", ")
    val bandIdx = (0 until numBands).mkString(", ")
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
       |s3 AS (SELECT doc_id,
       |  list_transform(sh, s -> {
       |    'h1': CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % $P,
       |    'h2': CAST(concat('0x', substr(md5(s), 17, 15)) AS BIGINT) % $P
       |  }) AS hs
       | FROM s2 WHERE len(sh) > 0),
       |sig AS (SELECT doc_id,
       |  $mhs
       | FROM s3),
       |bands AS (SELECT doc_id,
       |  unnest([$bandIdx]) AS band,
       |  unnest([$keys]) AS key
       | FROM sig)""".stripMargin
  }
  private lazy val minhashBandsCtes: String = minhashBandsCtesOf(12, 2)

  /** MinHash-band pair CTE chain ending in `mhpairs(doc_a, doc_b,
    * n_bands)` — shared by the dedup_minhash oracle and the
    * dedup_components transitive closure built on top of it. */
  private def minhashPairsCtesOf(numHashes: Int, bandSize: Int): String =
    s"""${minhashBandsCtesOf(numHashes, bandSize)},
       |mhpairs AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_bands
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  private lazy val minhashPairsCtes: String = minhashPairsCtesOf(12, 2)

  /** ivf_kmeans_fixed / ivf_rebalance_fixed oracle: fixed init →
    * assign → quantized-mean update → assign, over the (optionally
    * filtered) corpus. Centroids c0 always come from the FULL corpus
    * (vec_id < 8), matching fixedCentroids on the Spark side. */
  private def ivfKmeansFixedSqlOver(corpusWhere: String): String =
    s"""WITH c0 AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
      |a1 AS (
      |  SELECT c.vec_id AS id, c.embedding AS vec, k.cid
      |  FROM (SELECT * FROM embeddings $corpusWhere) c CROSS JOIN c0 k
      |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) = 1),
      |sums AS (
      |  SELECT cid, u.i AS i,
      |    sum(CAST(floor(CAST(vec[u.i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s,
      |    count(*) AS n
      |  FROM a1, (SELECT unnest(range(1, 65)) AS i) u
      |  GROUP BY 1, 2),
      |c1 AS (
      |  SELECT g.cid,
      |    list(CAST(coalesce(CAST(s.s AS DOUBLE) / s.n / 1000000.0, 0.0) AS REAL)
      |      ORDER BY d.i) AS cvec
      |  FROM (SELECT unnest(range(0, 8)) AS cid) g
      |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
      |  LEFT JOIN sums s ON s.cid = g.cid AND s.i = d.i
      |  GROUP BY 1)
      |SELECT f.id, CAST(f.cid AS INT) AS cluster
      |FROM (
      |  SELECT c.vec_id AS id, k.cid
      |  FROM (SELECT * FROM embeddings $corpusWhere) c CROSS JOIN c1 k
      |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) = 1) f
      |ORDER BY id""".stripMargin

  /** One quantized-mean Lloyd's update over an assigned frame
    * (id, vector, cluster): per-(cluster, dim) integer sums of
    * floor(e·10⁶) — exact and order-independent, hence hash-portable —
    * divided in double, cast to float; empty cluster → zero vector
    * (ivfflat.rs:47-71). Shared by ivf_kmeans_fixed and
    * ivf_rebalance_fixed. */
  private def quantLloydCentroids(assigned: org.apache.spark.sql.DataFrame,
                                  k: Int, dim: Int): Array[Array[Float]] = {
    val sums = assigned
      .select(col("cluster"), posexplode(col("vector")).as(Seq("dim", "e")))
      .groupBy(col("cluster"), col("dim"))
      .agg(sum(floor(col("e").cast("double") * lit(1000000.0d)).cast("long"))
        .as("sum_q6"), count(lit(1)).as("n"))
      .collect()
    val cents = Array.fill(k)(new Array[Float](dim))
    sums.foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) =
        (r.getLong(2).toDouble / r.getLong(3).toDouble / 1000000.0d).toFloat
    }
    cents
  }

  /** Winnowing-fingerprint CTEs (char-5-gram rolling md5, window-4
    * minima, distinct) — mirrors TextOps.winnow; shared by doc_winnow
    * and dedup_winnow. */
  private val winnowFpsCtes: String =
    """WITH g AS (SELECT doc_id,
      |  CASE WHEN length(text) >= 5
      |   THEN list_transform(range(1, length(text) - 3), i -> md5(substr(text, i, 5)))
      |   ELSE [] END AS h FROM documents),
      |f AS (SELECT doc_id,
      |  CASE WHEN len(h) >= 4
      |   THEN list_distinct(list_transform(range(1, len(h) - 2), i -> list_min(h[i:i+3])))
      |   WHEN len(h) > 0 THEN [list_min(h)]
      |   ELSE [] END AS fps FROM g)""".stripMargin

  /** Shared DuckDB fragments mirroring TextOps (tokens/shingles). */
  private val toksSql =
    """list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)"""

  /** pieces → words → exhaustive-enumeration states → per-word best
    * segmentation: the unigram-Viterbi CTE chain shared by every
    * unigram-oracle lane. `wordsWhere` narrows the word universe (the
    * tokenize lanes pin doc_id < 120 to bound enumeration; the
    * pack/mix lanes segment the whole corpus's 31-word vocabulary). */
  private def unigramBestCtes(wordsWhere: String): String =
    s"""pieces AS (SELECT piece, sc FROM (
       |    SELECT chr(97 + CAST(i AS INT)) AS piece,
       |      CAST(-14000000 AS BIGINT) AS sc
       |    FROM (SELECT unnest(range(0, 26)) AS i)
       |    UNION ALL
       |    SELECT piece, CAST(sc AS BIGINT) FROM (VALUES
       |      ('th', -11000000), ('he', -11000000), ('in', -11000000),
       |      ('er', -11000000), ('an', -11000000), ('re', -11000000),
       |      ('on', -11000000), ('at', -11000000), ('en', -11000000),
       |      ('nd', -11000000),
       |      ('the', -9000000), ('ing', -9000000), ('and', -9000000),
       |      ('ion', -9000000), ('ent', -9000000), ('ati', -9000000))
       |      AS v(piece, sc)) u),
       |words AS (SELECT DISTINCT t AS word FROM (
       |    SELECT unnest($toksSql) AS t FROM documents $wordsWhere)
       |  WHERE regexp_full_match(t, '[a-z]{1,12}')),
       |states AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS sc, 0 AS np,
       |    '' AS path FROM words
       |  UNION ALL
       |  SELECT s.word, s.pos + len(p.piece), s.sc + p.sc, s.np + 1,
       |    CASE WHEN s.path = '' THEN p.piece
       |         ELSE s.path || ' ' || p.piece END
       |  FROM states s JOIN pieces p
       |    ON substr(s.word, s.pos + 1, len(p.piece)) = p.piece),
       |best AS (SELECT word, path, sc, np, row_number() OVER
       |    (PARTITION BY word ORDER BY sc DESC, np ASC, path ASC) AS rn
       |  FROM states WHERE pos = len(word))""".stripMargin

  /** The unigram-Viterbi exhaustive-enumeration oracle, shared by the
    * direct (unigram_tokenize) and save→load (unigram_persist) lanes —
    * persistence must be identity, so both hash against the same
    * ground truth. */
  private lazy val unigramTokenizeSql: String =
    s"""WITH RECURSIVE ${unigramBestCtes("WHERE doc_id < 120")}
       |SELECT word, path AS pieces, sc AS score, CAST(np AS BIGINT) AS n_pieces
       |FROM best WHERE rn = 1 ORDER BY word""".stripMargin

  /** Per-doc subword counts under the pinned vocabulary — the shared
    * tail of the subword pack/mix oracles: every distinct corpus word
    * Viterbi-segments once (`best`), then each doc sums its tokens'
    * piece counts. */
  private def subwordCountCtes: String =
    s"""${unigramBestCtes("")},
       |wnp AS (SELECT word, np FROM best WHERE rn = 1),
       |dt AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |dc AS (SELECT d.doc_id, CAST(SUM(w.np) AS BIGINT) AS n_tokens
       |  FROM dt d JOIN wnp w ON d.t = w.word GROUP BY 1)""".stripMargin

  /** The split/shard/prefix-sum/bin replay over whatever (doc_id,
    * n_tokens) CTE `dc` a counting prefix provides — shared by the
    * unigram- and BPE-counted packing oracles. */
  private def packReplayTailSql: String =
    s"""f AS (SELECT doc_id,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |    / 4294967296.0 AS frac
       | FROM documents),
       |sp AS (SELECT f.doc_id,
       |  CASE WHEN frac < 0.8 THEN 'train'
       |       WHEN frac < 0.9 THEN 'val'
       |       ELSE 'test' END AS split,
       |  f.doc_id % 8 AS shard, dc.n_tokens
       | FROM f JOIN dc ON f.doc_id = dc.doc_id),
       |c AS (SELECT doc_id, split, shard, n_tokens,
       |  COALESCE(SUM(n_tokens) OVER (PARTITION BY split, shard
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS prior
       | FROM sp)
       |SELECT doc_id, split, shard, n_tokens,
       |  CAST(prior // 1000 AS BIGINT) AS bin
       |FROM c ORDER BY doc_id""".stripMargin

  /** doc_pack replayed over SQL-segmented SUBWORD counts: the same
    * split/shard/prefix-sum/bin chain, budgeted by the pinned unigram
    * tokenizer's per-doc piece counts instead of whitespace tokens. */
  private lazy val docPackSubwordSql: String =
    s"""WITH RECURSIVE $subwordCountCtes,
       |$packReplayTailSql""".stripMargin

  /** doc_pack under the TRAINED BPE merge table: the bpe_train replay
    * chain re-derives the merges, every DISTINCT corpus word segments
    * through the replace chain once, per-doc counts sum — then the
    * same pack replay. */
  private lazy val docPackBpeSql: String = {
    val mcols = (1 to BpeMerges)
      .map(i => s"(SELECT s1 FROM b$i) AS l$i, (SELECT s2 FROM b$i) AS r$i")
      .mkString(", ")
    var e = "(' ' || array_to_string(list_transform(range(1, len(word) + 1), " +
      "i -> substring(word, CAST(i AS INTEGER), 1)), '  ') || ' ')"
    for (i <- 1 to BpeMerges)
      e = s"replace($e, ' ' || m.l$i || '  ' || m.r$i || ' ', ' ' || m.l$i || m.r$i || ' ')"
    s"""WITH $bpeChainCtes,
       |m AS MATERIALIZED (SELECT $mcols),
       |w AS (SELECT DISTINCT t AS word FROM (
       |    SELECT unnest($toksSql) AS t FROM documents)),
       |wn AS (SELECT word,
       |  CASE WHEN seg = '' THEN 0 ELSE len(string_split(seg, ' ')) END AS n_sub
       |  FROM (SELECT word, replace(trim($e), '  ', ' ') AS seg FROM w, m)),
       |dt AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |dc AS (SELECT d.doc_id, CAST(SUM(wn.n_sub) AS BIGINT) AS n_tokens
       |  FROM dt d JOIN wn ON d.t = wn.word GROUP BY 1),
       |$packReplayTailSql""".stripMargin
  }

  /** Temperature mixing weighted by subword counts: per-source mass is
    * Σ n_subwords (the token mass a pretrain mixture balances), keep
    * rate √(w_min/w_s), membership content-addressed — the oracle
    * replays Splits.mixByTemperatureWeighted end to end. */
  private lazy val mixTemperatureSubwordSql: String =
    s"""WITH RECURSIVE $subwordCountCtes,
       |w AS (SELECT d.source, SUM(dc.n_tokens) AS w_src
       |  FROM documents d JOIN dc ON d.doc_id = dc.doc_id GROUP BY 1),
       |m AS (SELECT MIN(w_src) AS w_min FROM w),
       |r AS (SELECT source,
       |  sqrt(CAST(w_min AS DOUBLE) / CAST(w_src AS DOUBLE)) AS mix_rate
       | FROM w, m),
       |f AS (SELECT doc_id, source,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
       |    / 4294967296.0 AS frac
       | FROM documents)
       |SELECT f.doc_id, f.source FROM f JOIN r USING (source)
       |WHERE f.frac < r.mix_rate ORDER BY doc_id""".stripMargin

  /** BPE lane constants: pinned corpus, merge count, word cap —
    * identical on both engines. */
  private val BpeMerges = 12
  private val BpeMaxWords = 1000
  private val BpeDocFilter = "doc_id % 25 = 0"

  /** CTE chain replaying [[graft.operators.Bpe.train]] in DuckDB: the
    * capped word counts, the spaced-symbol rendering (every symbol
    * wrapped in single spaces ⇒ exactly two spaces between adjacent
    * symbols), then per step i the pair counts (pᵢ), the (count DESC,
    * pair ASC) winner (bᵢ), and the merge applied as a left-to-right
    * string replace (wᵢ) — bitwise the trainer's greedy non-overlapping
    * pass. MATERIALIZED is load-bearing: each wᵢ is referenced twice
    * (pᵢ₊₁ and wᵢ₊₁), so an inlined chain re-evaluates exponentially. */
  private def bpeChainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""words AS MATERIALIZED (SELECT token AS word, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS token FROM documents WHERE $BpeDocFilter)
         |  GROUP BY 1 ORDER BY freq DESC, word LIMIT $BpeMaxWords),
         |w0 AS MATERIALIZED (SELECT ' ' || array_to_string(
         |    list_transform(range(1, len(word) + 1),
         |      i -> substring(word, CAST(i AS INTEGER), 1)), '  ') || ' ' AS s,
         |  freq FROM words)""".stripMargin)
    for (i <- 1 to BpeMerges) {
      sb.append(
        s""",
           |p$i AS MATERIALIZED (SELECT pr['a'] AS s1, pr['b'] AS s2, SUM(freq) AS c FROM (
           |  SELECT unnest(list_transform(range(1, len(syms)),
           |      j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr, freq
           |  FROM (SELECT string_split(trim(s), '  ') AS syms, freq FROM w${i - 1}))
           |  GROUP BY 1, 2),
           |b$i AS MATERIALIZED (SELECT s1, s2, c FROM p$i ORDER BY c DESC, s1, s2 LIMIT 1),
           |w$i AS MATERIALIZED (SELECT replace(s, ' ' || b.s1 || '  ' || b.s2 || ' ',
           |    ' ' || b.s1 || b.s2 || ' ') AS s, freq FROM w${i - 1}, b$i b)""".stripMargin)
    }
    sb.toString
  }

  private def bpeTrainSql: String = {
    val union = (1 to BpeMerges)
      .map(i => s"SELECT $i AS step, s1 AS lhs, s2 AS rhs, CAST(c AS BIGINT) AS freq FROM b$i")
      .mkString(" UNION ALL ")
    s"WITH $bpeChainCtes\nSELECT * FROM ($union) ORDER BY step"
  }

  private def bpeTokenizeSql: String = {
    val mcols = (1 to BpeMerges)
      .map(i => s"(SELECT s1 FROM b$i) AS l$i, (SELECT s2 FROM b$i) AS r$i")
      .mkString(", ")
    // per word w: spaced chars, then the 12-step replace chain
    var e = "(' ' || array_to_string(list_transform(range(1, len(w) + 1), " +
      "i -> substring(w, CAST(i AS INTEGER), 1)), '  ') || ' ')"
    for (i <- 1 to BpeMerges)
      e = s"replace($e, ' ' || m.l$i || '  ' || m.r$i || ' ', ' ' || m.l$i || m.r$i || ' ')"
    s"""WITH $bpeChainCtes,
       |m AS MATERIALIZED (SELECT $mcols),
       |d AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE $BpeDocFilter)
       |SELECT doc_id,
       |  CASE WHEN sub_str = '' THEN 0 ELSE len(string_split(sub_str, ' ')) END AS n_sub,
       |  sub_str
       |FROM (SELECT doc_id,
       |  replace(trim(array_to_string(list_transform(toks, w -> trim($e)), '  ')), '  ', ' ') AS sub_str
       |  FROM d, m)
       |ORDER BY doc_id""".stripMargin
  }
  private val shinglesSql =
    """CASE WHEN len(toks) >= 3
      | THEN list_transform(range(1, len(toks) - 1),
      |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      | ELSE [] END""".stripMargin
  private def stopHitSql(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
  private val simhashSql: String = {
    val high = "('8','9','a','b','c','d','e','f')"
    (0 until 16).map { j =>
      s"""(CASE WHEN list_sum(list_transform(toks,
         |  t -> CASE WHEN substr(md5(t), ${j + 1}, 1) IN $high THEN 1 ELSE -1 END)) > 0
         | THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
  }
  /** 64-bit twin: two set-tests per nibble (8-bit → bits 0..31, 4-bit →
    * bits 32..63), OR-folded; bit-63's value only exists as a string
    * literal in DuckDB BIGINT (1<<63 overflows its shift). */
  private val simhash64Sql: String = {
    val bit8 = "('8','9','a','b','c','d','e','f')"
    val bit4 = "('4','5','6','7','c','d','e','f')"
    (0 until 64).map { bit =>
      val (pos, set) = if (bit < 32) (bit + 1, bit8) else (bit - 31, bit4)
      val v = (1L << bit).toString
      s"""(CASE WHEN list_sum(list_transform(toks,
         |  t -> CASE WHEN substr(md5(t), $pos, 1) IN $set THEN 1 ELSE -1 END)) > 0
         | THEN CAST('$v' AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString(" | ")
  }

  /** DSIR CTE chain (mirrors Dsir.weights with target = lang='en',
    * raw = all documents): hashed unigram+bigram buckets (m=256),
    * add-one-smoothed corpus models over ALL buckets, ln quantized to
    * 1e-6 BIGINT (the sketch_hll libm concession — margin ~6e-9 per
    * bucket), integer dot-product weights, zero-filled for gramless
    * docs. Ends in wf(doc_id, n_grams, weight_q). */
  private lazy val dsirCtes: String =
    s"""WITH tok AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |gr AS (SELECT doc_id, lang, unnest(list_concat(toks,
       |  list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1]))) AS gram FROM tok),
       |bk AS (SELECT doc_id, lang,
       |  CAST(CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
       |    & 255 AS INT) AS bucket FROM gr),
       |db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk GROUP BY 1, 2),
       |tcnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM bk
       |  WHERE lang = 'en' GROUP BY 1),
       |rcnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM bk
       |  GROUP BY 1),
       |ab AS (SELECT CAST(unnest(range(0, 256)) AS INT) AS bucket),
       |j AS (SELECT ab.bucket, coalesce(tcnt.ct, 0) AS ct,
       |  coalesce(rcnt.cr, 0) AS cr
       |  FROM ab LEFT JOIN tcnt USING(bucket) LEFT JOIN rcnt USING(bucket)),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS st,
       |  CAST(sum(cr) AS BIGINT) AS sr FROM j),
       |lr AS (SELECT bucket, CAST(floor(ln(
       |    ((CAST(ct AS DOUBLE) + 1.0) / (CAST(st AS DOUBLE) + 256.0)) /
       |    ((CAST(cr AS DOUBLE) + 1.0) / (CAST(sr AS DOUBLE) + 256.0)))
       |  * 1000000.0 + 0.5) AS BIGINT) AS lr_q FROM j, tot),
       |w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
       |  CAST(sum(cnt * lr_q) AS BIGINT) AS weight_q
       |  FROM db JOIN lr USING(bucket) GROUP BY 1),
       |wf AS (SELECT d.doc_id, coalesce(w.n_grams, CAST(0 AS BIGINT)) AS n_grams,
       |  coalesce(w.weight_q, CAST(0 AS BIGINT)) AS weight_q
       |  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id)""".stripMargin

  /** BM25 candidate-scoring CTE chain (mirrors Retrieval.bm25 with
    * queries = the corpus's own docs with doc_id < `nq`): tf/df/dl
    * posting tables, rational RSJ idf, Spark's exact double operand
    * order (k1=1.2, b=0.75 → literals 2.2 / 1.2 / 0.25 / 0.75), score
    * quantized to 1e-9 BIGINT before the order-free per-pair sum.
    * `dfWhere` narrows the term universe for the dfcap lane;
    * `corpusWhere` narrows the indexed corpus for the remove lane
    * (queries always come from the full table).
    * Ends in bagg(qid, doc_id, n_hit, score_q). */
  private def bm25AggCtes(nq: Int, dfWhere: String = "",
                          corpusWhere: String = ""): String =
    s"""WITH btok AS (SELECT doc_id, unnest($toksSql) AS term
       |  FROM documents $corpusWhere),
       |btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM btok GROUP BY 1, 2),
       |bdf AS (SELECT term, df FROM (SELECT term,
       |  CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1) $dfWhere),
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
       |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM bdl),
       |bqt AS (SELECT DISTINCT qid, term FROM (
       |  SELECT doc_id AS qid, unnest($toksSql) AS term FROM documents
       |  WHERE doc_id < $nq)),
       |bsc AS (${bm25ScoreSelectSql("bqt")}),
       |bagg AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |  CAST(sum(s_q) AS BIGINT) AS score_q FROM bsc GROUP BY 1, 2)""".stripMargin

  /** Hybrid-fusion replay shared by rrf_hybrid (exhaustive vector
    * side) and hybrid_ivf (IVF tier at probe-all — the same exact
    * top-10): two rankers full-outer fused on (qid, id) with
    * rrf = Σ 1/(60 + rank), re-ranked (rrf DESC, id). */
  private lazy val rrfHybridSql: String =
    s"""${bm25AggCtes(3)},
       |lex AS (SELECT qid, doc_id AS id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_a
       |  FROM bagg QUALIFY rank_a <= 10),
       |vsc AS (SELECT q.vec_id AS qid, c.vec_id AS id,
       |  list_reduce(list_transform(list_zip(c.embedding, q.embedding),
       |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
       |    (a, b) -> a + b) AS distance
       |  FROM embeddings c, embeddings q WHERE q.vec_id < 3),
       |vec AS (SELECT qid, id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY distance, id) AS BIGINT) AS rank_b
       |  FROM vsc QUALIFY rank_b <= 10),
       |fused AS (SELECT coalesce(l.qid, v.qid) AS qid,
       |  coalesce(l.id, v.id) AS id,
       |  coalesce(1.0 / (60.0 + CAST(l.rank_a AS DOUBLE)), 0.0)
       |    + coalesce(1.0 / (60.0 + CAST(v.rank_b AS DOUBLE)), 0.0) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v ON l.qid = v.qid AND l.id = v.id)
       |SELECT qid, id, rrf,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, id) AS INTEGER) AS rank
       |FROM fused ORDER BY qid, rank""".stripMargin

  /** The BM25 per-(query-term, doc) scoring SELECT over a prepared
    * (qid, term) CTE — shared by the first and (RM3) second passes. */
  private def bm25ScoreSelectSql(qtCte: String): String =
    s"""SELECT q.qid, f.doc_id,
       |  CAST(floor(
       |    ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
       |      / (CAST(d.df AS DOUBLE) + 0.5))
       |    * ((CAST(f.tf AS DOUBLE) * 2.2)
       |      / (CAST(f.tf AS DOUBLE)
       |         + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE) / s.avgdl))))
       |    * 1000000000.0 + 0.5) AS BIGINT) AS s_q
       |  FROM $qtCte q JOIN btf f USING(term) JOIN bdf d USING(term)
       |  JOIN bdl l ON l.doc_id = f.doc_id, bst s""".stripMargin

  /** Brute MIPS oracle (−dot top-10) — shared by knn_mips and the
    * norm-augmentation reduction (mips_ivf_exact). */
  private val knnMipsSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    0.0 - list_reduce(list_transform(list_zip(c.embedding, q.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
      |      (a, b) -> a + b) AS distance
      |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** Exhaustive top-10 under cosine distance over NORMALIZED vectors —
    * the oracle for the degenerate-exact HNSW lanes (hnsw_knn_exact and
    * its persist/add/remove twins): with numShards = 1 and efSearch ≥
    * corpus, the layer-0 beam visits every node, so the search IS
    * exhaustive cosine over the ingested (normalizeF'd) vectors. The
    * normalization replicates normalizeF bit-for-bit — double divide,
    * REAL round-trip, double products, left fold — exactly the
    * vec_kernels oracle pattern (the 1e-6 zero-guard is omitted: test
    * corpus norms sit in [1−1e-7, 1+1e-7], the guard cannot fire).
    * `corpusWhere` gives the remove twin its corpus-minus-removed
    * universe. */
  private def hnswExactKnnSqlOver(corpusWhere: String): String =
    s"""WITH n AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    CAST(CAST(CAST(x AS DOUBLE) / sqrt(list_reduce(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a,b) -> a+b)) AS REAL) AS DOUBLE)) AS v
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    1.0 - list_reduce(list_transform(list_zip(c.v, q.v),
      |      x -> x[1] * x[2]), (a, b) -> a + b) AS distance
      |  FROM n c, n q WHERE q.vec_id < 5 $corpusWhere)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin
  private lazy val hnswExactKnnSql: String = hnswExactKnnSqlOver("")

  /** Exhaustive top-10-by-sqdist for the 5 fixed query vectors — the
    * oracle for knn_exhaustive and for every exact-configured index
    * search (degenerate LSH forest, probe-all IVF). */
  private val exhaustiveKnnSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
      |      (a, b) -> a + b) AS distance
      |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** ivf_knn_join_all oracle: the self-kNN join is exact at nprobe =
    * all cells, so the oracle is [[exhaustiveKnnSql]] with EVERY row as
    * a query (the kNN-graph ground truth). */
  private val exhaustiveSelfKnnSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
      |      (a, b) -> a + b) AS distance
      |  FROM embeddings c, embeddings q)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** ivf_knn_join_fixed oracle: probe selection (2 nearest of the 8
    * fixed cells) + within-probed re-rank, for EVERY query row — the
    * ivfSearchFixedSql shape with the query filter dropped. */
  private val ivfKnnJoinFixedSql: String =
    s"""WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
      |assigned AS (
      |  SELECT c.vec_id AS id, c.embedding AS vec, k.cid
      |  FROM embeddings c CROSS JOIN cent k
      |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) = 1),
      |probes AS (
      |  SELECT q.vec_id AS qid, q.embedding AS qvec, k.cid
      |  FROM embeddings q CROSS JOIN cent k
      |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, q.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) <= 2),
      |cands AS (
      |  SELECT p.qid, a.id,
      |    list_reduce(list_transform(list_zip(a.vec, p.qvec),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b) AS distance
      |  FROM probes p JOIN assigned a ON a.cid = p.cid)
      |SELECT qid, id, distance FROM cands
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** Shared CTE prefix of the dedup_semantic_* oracles: fixed-centroid
    * assignment (argmin, cid tie-break — the IVFFlat.assign contract)
    * then within-cell cosine-distance pairs below 0.7 (the
    * cosineDistance = 1 − dot kernel of the dedup_embed oracle). */
  /** Multi-assignment SemDeDup CTEs (IVFFlat.assignMulti, marginSq =
    * 1.5): every vector keeps its nearest cell; the second-nearest
    * joins when d₂ ≤ 1.5·d₁ (the cell-boundary repair). Pairs join on
    * shared cells and emit once via the first-shared-cell rule. */
  private val semanticPairsCtes: String =
    """cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
      |ranked AS (
      |  SELECT c.vec_id AS id, c.embedding AS vec, k.cid,
      |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b) AS d,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |      k.cid) AS rn
      |  FROM embeddings c CROSS JOIN cent k),
      |passigned AS (
      |  SELECT id, vec, cid FROM ranked WHERE rn = 1
      |  UNION ALL
      |  SELECT r2.id, r2.vec, r2.cid FROM ranked r2
      |  JOIN ranked r1 ON r2.id = r1.id AND r1.rn = 1
      |  WHERE r2.rn = 2 AND r2.d <= 1.5 * r1.d),
      |cellsets AS (SELECT id, list_sort(list(cid)) AS cells
      |  FROM passigned GROUP BY id),
      |sempairs AS (
      |  SELECT l.id AS id_a, r.id AS id_b,
      |    1.0 - list_reduce(list_transform(list_zip(l.vec, r.vec),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b) AS distance
      |  FROM passigned l JOIN passigned r ON l.cid = r.cid AND l.id < r.id
      |  JOIN cellsets cl ON cl.id = l.id
      |  JOIN cellsets cr ON cr.id = r.id
      |  WHERE l.cid = list_min(list_intersect(cl.cells, cr.cells))
      |    AND 1.0 - list_reduce(list_transform(list_zip(l.vec, r.vec),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b) < 0.7)""".stripMargin

  /** Shared CTE prefix of the dedup_spans* oracles: 0-based 5-gram
    * positions as md5 digests, the df ≥ 2 shared set, and the
    * gaps-and-islands run grouping (pos − row_number is constant
    * within a run of consecutive repeated positions). */
  private lazy val repeatedSpansCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, i - 1 AS pos,
       |    md5(array_to_string(toks[i:i+4], ' ')) AS gram_h
       |  FROM t, unnest(range(1, len(toks) - 3)) AS u(i)),
       |shared AS (SELECT gram_h FROM g
       |  GROUP BY gram_h HAVING count(DISTINCT doc_id) >= 2),
       |m AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram_h)),
       |runs AS (SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM m)""".stripMargin

  /** Shared CTE prefix of the doc_chunks_cdc / chunk_dedup_cdc
    * oracles: token stream, content-defined boundary flags
    * (hash60(prev ⊔ tok) % 16 == 0, lag default ''), exclusive-prefix
    * chunk index, per-chunk reassembly + digest. */
  private lazy val cdcChunkCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |b AS (SELECT doc_id, pos, tok,
       |    CASE WHEN (CAST(concat('0x', substr(md5(
       |        concat(coalesce(lag(tok) OVER w, ''), ' ', tok)), 1, 15)) AS BIGINT)
       |      % 16) = 0 THEN 1 ELSE 0 END AS bnd
       |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |ci AS (SELECT doc_id, pos, tok,
       |    CAST(coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS chunk_idx
       |  FROM b),
       |chunks AS (SELECT doc_id, chunk_idx,
       |    CAST(count(*) AS BIGINT) AS n_toks,
       |    string_agg(tok, ' ' ORDER BY pos) AS chunk,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
       |  FROM ci GROUP BY doc_id, chunk_idx)""".stripMargin

  /** maxsim_exact / maxsim_shortlisted oracle: the full late-
    * interaction replay. Tokens explode with positions; each token's
    * grams are itself + its char trigrams; the hashing-trick sparse
    * vector is the md5 index/sign fold (the proven text_hash_embed
    * mapping); per-token-pair dots come from a sparse i-keyed join
    * DENSIFIED over the full (q-token × d-token) grid (a no-overlap
    * pair's dot is 0 and must participate in the max); then
    * max-per-(qid, doc, qtok) × 1e6 → sum → rank. Every step integer. */
  private lazy val maxSimSql: String = maxSimSqlCorpus("")

  /** [[maxSimSql]] over a restricted corpus (`filter` = a WHERE
    * clause, empty = all docs). The shortlisted lane pins its
    * convergence contract (m ≥ corpus token count ⇒ ≡ exhaustive) on
    * a BOUNDED corpus: the pin's heap size is m — corpus-sized by
    * construction — so running it over the full table would measure
    * an O(corpus)-entry heap per query token, a config no serving
    * deployment uses (m is the small recall lever; the full-corpus
    * exhaustive face is maxsim_exact's job). */
  private def maxSimSqlCorpus(filter: String): String =
    s"""WITH ${maxSimCtes(filter)}
       |SELECT qid, doc_id, score_q,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
       |FROM sc
       |QUALIFY rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** The [[maxSimSqlCorpus]] CTE chain alone (ends in sc(qid, doc_id,
    * score_q)) — composable into fusion oracles. */
  private def maxSimCtes(filter: String): String =
    s"""tok AS (SELECT doc_id, $toksSql AS toks FROM documents $filter),
       |dt AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |  i -> {'tok_idx': i - 1, 'term': toks[i]}), recursive := true)
       |  FROM tok),
       |qt AS (SELECT doc_id AS qid, tok_idx AS qtok, term FROM dt
       |  WHERE doc_id < 3),
       |dg AS (SELECT doc_id, tok_idx, unnest(list_concat([term],
       |    CASE WHEN len(term) >= 3 THEN list_transform(
       |      range(1, len(term) - 1), i -> substr(term, i, 3))
       |    ELSE [] END)) AS g FROM dt),
       |qg AS (SELECT qid, qtok, unnest(list_concat([term],
       |    CASE WHEN len(term) >= 3 THEN list_transform(
       |      range(1, len(term) - 1), i -> substr(term, i, 3))
       |    ELSE [] END)) AS g FROM qt),
       |dsp AS (SELECT doc_id, tok_idx,
       |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 16 AS i,
       |    SUM(CASE WHEN substr(md5(g), 9, 1) IN
       |      ('8','9','a','b','c','d','e','f') THEN -1 ELSE 1 END) AS v
       |  FROM dg GROUP BY 1, 2, 3),
       |qsp AS (SELECT qid, qtok,
       |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 16 AS i,
       |    SUM(CASE WHEN substr(md5(g), 9, 1) IN
       |      ('8','9','a','b','c','d','e','f') THEN -1 ELSE 1 END) AS v
       |  FROM qg GROUP BY 1, 2, 3),
       |spdots AS (SELECT q.qid, q.qtok, d.doc_id, d.tok_idx,
       |    SUM(d.v * q.v) AS dot
       |  FROM dsp d JOIN qsp q USING(i) GROUP BY 1, 2, 3, 4),
       |grid AS (SELECT q.qid, q.qtok, d.doc_id, d.tok_idx
       |  FROM (SELECT DISTINCT qid, qtok FROM qt) q
       |  CROSS JOIN (SELECT DISTINCT doc_id, tok_idx FROM dt) d),
       |alldots AS (SELECT g.qid, g.qtok, g.doc_id, g.tok_idx,
       |    COALESCE(s.dot, 0) AS dot
       |  FROM grid g LEFT JOIN spdots s
       |    USING(qid, qtok, doc_id, tok_idx)),
       |mx AS (SELECT qid, doc_id, qtok, MAX(dot) * 1000000 AS m_q
       |  FROM alldots GROUP BY 1, 2, 3),
       |sc AS (SELECT qid, doc_id, CAST(SUM(m_q) AS BIGINT) AS score_q
       |  FROM mx GROUP BY 1, 2)""".stripMargin

  /** hybrid_maxsim oracle: BM25 top-10 (bounded corpus) RRF-fused
    * with the late-interaction MaxSim top-10 over the same corpus —
    * the rrfHybridSql discipline with the vector side replaced by the
    * full MaxSim replay. */
  private lazy val hybridMaxSimSql: String =
    s"""${bm25AggCtes(3, corpusWhere = "WHERE doc_id < 50")},
       |lex AS (SELECT qid, doc_id AS id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_a
       |  FROM bagg QUALIFY rank_a <= 10),
       |${maxSimCtes("WHERE doc_id < 50")},
       |ms AS (SELECT qid, doc_id AS id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_b
       |  FROM sc QUALIFY rank_b <= 10),
       |fused AS (SELECT coalesce(l.qid, m.qid) AS qid,
       |  coalesce(l.id, m.id) AS id,
       |  coalesce(1.0 / (60.0 + CAST(l.rank_a AS DOUBLE)), 0.0)
       |    + coalesce(1.0 / (60.0 + CAST(m.rank_b AS DOUBLE)), 0.0) AS rrf
       |  FROM lex l FULL OUTER JOIN ms m ON l.qid = m.qid AND l.id = m.id)
       |SELECT qid, id, rrf,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, id) AS INTEGER) AS rank
       |FROM fused ORDER BY qid, rank""".stripMargin

  /** hybrid_trio oracle: three-way RRF — BM25 top-10 (bounded corpus)
    * ⊕ dense exact top-10 (the rrfHybridSql vector side) ⊕ MaxSim
    * top-10 (bounded corpus) — chained full-outer joins on (qid, id),
    * rrf = Σ of three coalesced 1/(60 + rank) terms. */
  private lazy val hybridTrioSql: String =
    s"""${bm25AggCtes(3, corpusWhere = "WHERE doc_id < 50")},
       |lex AS (SELECT qid, doc_id AS id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_a
       |  FROM bagg QUALIFY rank_a <= 10),
       |vsc AS (SELECT q.vec_id AS qid, c.vec_id AS id,
       |  list_reduce(list_transform(list_zip(c.embedding, q.embedding),
       |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
       |    (a, b) -> a + b) AS distance
       |  FROM embeddings c, embeddings q WHERE q.vec_id < 3),
       |vec AS (SELECT qid, id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY distance, id) AS BIGINT) AS rank_b
       |  FROM vsc QUALIFY rank_b <= 10),
       |${maxSimCtes("WHERE doc_id < 50")},
       |ms AS (SELECT qid, doc_id AS id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_c
       |  FROM sc QUALIFY rank_c <= 10),
       |fused AS (SELECT
       |  coalesce(l.qid, v.qid, m.qid) AS qid,
       |  coalesce(l.id, v.id, m.id) AS id,
       |  coalesce(1.0 / (60.0 + CAST(l.rank_a AS DOUBLE)), 0.0)
       |    + coalesce(1.0 / (60.0 + CAST(v.rank_b AS DOUBLE)), 0.0)
       |    + coalesce(1.0 / (60.0 + CAST(m.rank_c AS DOUBLE)), 0.0) AS rrf
       |  FROM lex l
       |  FULL OUTER JOIN vec v ON l.qid = v.qid AND l.id = v.id
       |  FULL OUTER JOIN ms m
       |    ON coalesce(l.qid, v.qid) = m.qid
       |   AND coalesce(l.id, v.id) = m.id)
       |SELECT qid, id, rrf,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, id) AS INTEGER) AS rank
       |FROM fused ORDER BY qid, rank""".stripMargin

  /** sq8_search_all / sq8_persist_all oracle: quantize each corpus
    * vector with [[graft.functions.Quant]]'s floor-rounding affine int8
    * rule, dequantize, then exhaustive top-10 — probing every cell makes
    * the SQ8 search exactly this. The dequant arithmetic (lo + code ×
    * (hi−lo)/255, all double) and the 0.0-seeded squared-diff fold
    * mirror [[graft.functions.Sq8DistExpr]] bit-for-bit. */
  private val sq8ExactKnnSql: String =
    """WITH r AS (SELECT vec_id, embedding,
      |  CAST(list_min(embedding) AS DOUBLE) AS lo,
      |  CAST(list_max(embedding) AS DOUBLE) AS hi FROM embeddings),
      |deq AS (SELECT vec_id,
      |  CASE WHEN hi = lo THEN list_transform(embedding, x -> lo)
      |    ELSE list_transform(embedding, x ->
      |      lo + floor((CAST(x AS DOUBLE) - lo) / ((hi - lo) / 255.0) + 0.5)
      |         * ((hi - lo) / 255.0)) END AS dq
      |  FROM r),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    list_reduce(list_transform(list_zip(q.embedding, c.dq),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
      |      (a, b) -> a + b) AS distance
      |  FROM deq c, embeddings q WHERE q.vec_id < 5)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** CTE chain rotating `embeddings.embedding` (dim 64) into
    * `{p}(vec_id, v ARRAY<DOUBLE>)` — the SQL twin of
    * [[graft.functions.Rotate]]: md5-addressed ±1 diagonal, 6 butterfly
    * stages (half = 1,2,4,…,32, each reading the previous stage's
    * values), one final 1/√64 scale. Shared by vec_rotate and every
    * rotated index-tier lane. */
  private def rotCtesSql(p: String): String = {
    val pad = 64
    val high = "('8','9','a','b','c','d','e','f')"
    val v0 =
      s"""${p}0 AS (SELECT vec_id, list_transform(range(1, ${pad + 1}), i ->
         |  (CASE WHEN substr(md5(CAST(i - 1 AS VARCHAR)), 1, 1) IN $high
         |    THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE))
         |  AS v FROM embeddings)""".stripMargin
    val stages = Iterator.iterate(1)(_ * 2).takeWhile(_ < pad).zipWithIndex.map {
      case (half, s) =>
        s"""$p${s + 1} AS (SELECT vec_id, list_transform(range(1, ${pad + 1}), i ->
           |  CASE WHEN ((i - 1) // $half) % 2 = 0 THEN v[i] + v[i + $half]
           |       ELSE v[i - $half] - v[i] END) AS v FROM $p$s)""".stripMargin
    }.toSeq
    (Seq(v0) ++ stages :+
      s"""$p AS (SELECT vec_id,
         |  list_transform(v, x -> x * (1.0 / sqrt(${pad.toDouble}))) AS v
         |  FROM $p${stages.length})""".stripMargin).mkString(",\n")
  }

  /** vec_rotate oracle: the FWHT cascade alone, reduced to per-row
    * checksum + rotated squared norm (the orthogonality witness). */
  private lazy val vecRotateSql: String =
    s"""WITH ${rotCtesSql("rot")}
       |SELECT vec_id,
       |  list_reduce(v, (a, b) -> a + b) AS chk,
       |  list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS norm2_rot
       |FROM rot ORDER BY vec_id""".stripMargin

  /** bq_rot_asym_all oracle: asymmetric BQ over the ROTATED frame —
    * sign bits of rotate(v), query rotate(q), distance = −Σ rot(q)ᵢ·±1
    * with every cell probed. The rotation CTE is the proven vec_rotate
    * cascade; the signed fold is the bq_asym_all shape over `rot`. */
  private lazy val bqRotAsymSql: String =
    s"""WITH ${rotCtesSql("rot")},
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS id,
       |    0.0 - list_reduce(list_transform(list_zip(c.v, q.v),
       |      x -> CASE WHEN x[1] > 0 THEN x[2] ELSE 0.0 - x[2] END),
       |      (a, b) -> a + b) AS distance
       |  FROM rot c, rot q WHERE q.vec_id < 5)
       |SELECT qid, id, distance FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin

  /** sq8_rot_all oracle: [[sq8ExactKnnSql]] with quantization and
    * distance both in the rotated frame (values already double — no
    * widening casts needed). Also gates the rotated persistence
    * round-trip: the Spark lane saves and reloads before searching. */
  private lazy val sq8RotAllSql: String =
    s"""WITH ${rotCtesSql("rot")},
       |r AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM rot),
       |deq AS (SELECT vec_id,
       |  CASE WHEN hi = lo THEN list_transform(v, x -> lo)
       |    ELSE list_transform(v, x ->
       |      lo + floor((x - lo) / ((hi - lo) / 255.0) + 0.5)
       |         * ((hi - lo) / 255.0)) END AS dq
       |  FROM r),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS id,
       |    list_reduce(list_transform(list_zip(q.v, c.dq),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), (a, b) -> a + b) AS distance
       |  FROM deq c, rot q WHERE q.vec_id < 5)
       |SELECT qid, id, distance FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin

  /** pq_rot_fixed oracle: the pq_adc_fixed recipe with corpus, pinned
    * codebooks and queries all in the rotated FLOAT frame — rotate in
    * double, round to REAL (the [[graft.index.PQ]] coordinate
    * contract), then the standard assign + ADC replay. */
  private lazy val pqRotFixedSql: String = {
    val d = (0 until 4).map(s =>
      pqSliceSqSql(s"k$s.cvec", "q.qvec", s * 16 + 1, (s + 1) * 16))
    s"""WITH ${rotCtesSql("rot")},
       |embr AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(x AS REAL)) AS embedding FROM rot),
       |${pqAssignCtesSqlOver("embr")},
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embr WHERE vec_id < 5),
       |cands AS (
       |  SELECT q.qid, a.id, ${d(0)} + ${d(1)} + ${d(2)} + ${d(3)} AS distance
       |  FROM assigned a CROSS JOIN q
       |  JOIN cb k0 ON k0.cid = a.c0
       |  JOIN cb k1 ON k1.cid = a.c1
       |  JOIN cb k2 ON k2.cid = a.c2
       |  JOIN cb k3 ON k3.cid = a.c3)
       |SELECT qid, id, distance FROM cands
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin
  }

  /** pq_opq_fixed oracle: the pinned 3-4-5 Givens rotation rebuilt
    * per-dim (even i: 0.6·x[p(i)] + 0.8·x[p(i+1)]; odd i: −0.8·x[p(i−1)]
    * + 0.6·x[p(i)], p(j) = (5j+3) mod 64 — two-term sums, so IEEE
    * addition commutativity makes the fold order irrelevant), rounded
    * REAL, then the standard pinned-codebook ADC over that frame. */
  private lazy val pqOpqFixedSql: String = {
    val d = (0 until 4).map(s =>
      pqSliceSqSql(s"k$s.cvec", "q.qvec", s * 16 + 1, (s + 1) * 16))
    s"""WITH ropq AS (SELECT vec_id, list_transform(range(0, 64),
       |    i -> CAST(CASE WHEN i % 2 = 0
       |      THEN 0.6 * CAST(embedding[(5*i+3) % 64 + 1] AS DOUBLE)
       |         + 0.8 * CAST(embedding[(5*(i+1)+3) % 64 + 1] AS DOUBLE)
       |      ELSE -0.8 * CAST(embedding[(5*(i-1)+3) % 64 + 1] AS DOUBLE)
       |         + 0.6 * CAST(embedding[(5*i+3) % 64 + 1] AS DOUBLE)
       |      END AS REAL)) AS embedding
       |  FROM embeddings),
       |${pqAssignCtesSqlOver("ropq")},
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM ropq WHERE vec_id < 5),
       |cands AS (
       |  SELECT q.qid, a.id, ${d(0)} + ${d(1)} + ${d(2)} + ${d(3)} AS distance
       |  FROM assigned a CROSS JOIN q
       |  JOIN cb k0 ON k0.cid = a.c0
       |  JOIN cb k1 ON k1.cid = a.c1
       |  JOIN cb k2 ON k2.cid = a.c2
       |  JOIN cb k3 ON k3.cid = a.c3)
       |SELECT qid, id, distance FROM cands
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin
  }

  /** bq_hamming_all / bq_persist_all oracle: with every cell probed,
    * symmetric BQ search is exactly "count the sign disagreements"
    * between query and corpus vectors (bit i = 1 iff xᵢ > 0, the
    * [[graft.functions.PackSignBitsExpr]] rule; pad bits are zero on
    * both sides so packed-byte Hamming equals the element-wise count). */
  private val bqHammingSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    CAST(list_reduce(list_transform(list_zip(c.embedding, q.embedding),
      |      x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END),
      |      (a, b) -> a + b) AS DOUBLE) AS distance
      |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** bq_asym_all oracle: −Σ qᵢ·(signᵢ ? +1 : −1) in double, the
    * [[graft.functions.BqAsymDotExpr]] fold (left-to-right; the 0.0
    * seed is neutral for the first float-widened addend). */
  private val bqAsymSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |    0.0 - list_reduce(list_transform(list_zip(c.embedding, q.embedding),
      |      x -> CASE WHEN x[1] > 0 THEN CAST(x[2] AS DOUBLE)
      |           ELSE 0.0 - CAST(x[2] AS DOUBLE) END),
      |      (a, b) -> a + b) AS distance
      |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** bq_res_asym_all oracle: assign each corpus row to its nearest
    * fixed centroid (the ivf_search_fixed assignment CTE), then score
    * every (query, row) pair with the residual-BQ distance estimate
    *   ‖q−c‖² − (2/√d)·‖v−c‖·Σ(qᵢ−cᵢ)·sign(vᵢ−cᵢ) + ‖v−c‖²,
    * c the ROW's cell centroid, every difference double-widened — the
    * [[graft.index.BQ.compressResidual]] coding probed at every cell,
    * including the cross-cell-comparable scale factors. */
  private val bqResAsymSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
      |assigned AS (
      |  SELECT c.vec_id AS id, c.embedding AS vec, k.cid, k.cvec,
      |    sqrt(list_reduce(list_transform(list_zip(c.embedding, k.cvec),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b))
      |      AS rnorm
      |  FROM embeddings c CROSS JOIN cent k
      |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) = 1),
      |scored AS (
      |  SELECT q.vec_id AS qid, a.id,
      |    list_reduce(list_transform(list_zip(q.embedding, a.cvec),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (u,w) -> u+w)
      |    - list_reduce(list_transform(list_zip(a.vec, q.embedding, a.cvec),
      |        x -> CASE WHEN (CAST(x[1] AS DOUBLE) - CAST(x[3] AS DOUBLE)) > 0
      |             THEN (CAST(x[2] AS DOUBLE) - CAST(x[3] AS DOUBLE))
      |             ELSE 0.0 - (CAST(x[2] AS DOUBLE) - CAST(x[3] AS DOUBLE)) END),
      |        (u, w) -> u + w)
      |      * a.rnorm * (2.0 / sqrt(CAST(len(q.embedding) AS DOUBLE)))
      |    + a.rnorm * a.rnorm AS distance
      |  FROM assigned a CROSS JOIN embeddings q WHERE q.vec_id < 5)
      |SELECT qid, id, distance FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** ivf_search_fixed oracle — shared with ivf_add_fixed (add against
    * frozen centroids reproduces the full assignment exactly) and,
    * with a corpus filter, ivf_remove_fixed (removal = the same search
    * over corpus-minus-removed). */
  private val ivfSearchFixedSql: String = ivfSearchFixedSqlOver("")
  private def ivfSearchFixedSqlOver(corpusWhere: String): String =
    s"""WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
      |assigned AS (
      |  SELECT c.vec_id AS id, c.embedding AS vec, k.cid
      |  FROM embeddings c CROSS JOIN cent k $corpusWhere
      |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) = 1),
      |probes AS (
      |  SELECT q.vec_id AS qid, q.embedding AS qvec, k.cid
      |  FROM embeddings q CROSS JOIN cent k WHERE q.vec_id < 5
      |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(k.cvec, q.embedding),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
      |    k.cid) <= 2),
      |cands AS (
      |  SELECT p.qid, a.id,
      |    list_reduce(list_transform(list_zip(a.vec, p.qvec),
      |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b) AS distance
      |  FROM probes p JOIN assigned a ON a.cid = p.cid)
      |SELECT qid, id, distance FROM cands
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
      |ORDER BY qid, distance, id""".stripMargin

  /** pq_ivf_fixed oracle — shared with pq_ivf_add_fixed (the fused
    * frozen assign+encode in add reproduces the full build exactly). */
  private lazy val pqIvfFixedSql: String = {
    val sq = (a: String, b: String) =>
      s"""list_reduce(list_transform(list_zip($a, $b),
         |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b)""".stripMargin
    val d = (0 until 4).map(s =>
      pqSliceSqSql(s"k$s.cvec", "p.qvec", s * 16 + 1, (s + 1) * 16))
    s"""WITH $pqAssignCtesSql,
       |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
       |cl AS (
       |  SELECT c.vec_id AS id, CAST(k.cid AS INT) AS cluster
       |  FROM embeddings c CROSS JOIN cent k
       |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |    ${sq("k.cvec", "c.embedding")}, k.cid) = 1),
       |probes AS (
       |  SELECT q.vec_id AS qid, q.embedding AS qvec, CAST(k.cid AS INT) AS cluster
       |  FROM embeddings q CROSS JOIN cent k WHERE q.vec_id < 5
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |    ${sq("k.cvec", "q.embedding")}, k.cid) <= 2),
       |cands AS (
       |  SELECT p.qid, a.id, ${d(0)} + ${d(1)} + ${d(2)} + ${d(3)} AS distance
       |  FROM probes p
       |  JOIN cl ON cl.cluster = p.cluster
       |  JOIN assigned a ON a.id = cl.id
       |  JOIN cb k0 ON k0.cid = a.c0
       |  JOIN cb k1 ON k1.cid = a.c1
       |  JOIN cb k2 ON k2.cid = a.c2
       |  JOIN cb k3 ON k3.cid = a.c3)
       |SELECT qid, id, distance FROM cands
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin
  }

  /** pq_adc_fixed oracle — shared with pq_persist_fixed (the lifecycle
    * round-trip must reproduce the in-memory ADC search bit-for-bit). */
  private lazy val pqAdcFixedSql: String = {
    val d = (0 until 4).map(s =>
      pqSliceSqSql(s"k$s.cvec", "q.qvec", s * 16 + 1, (s + 1) * 16))
    s"""WITH $pqAssignCtesSql,
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |cands AS (
       |  SELECT q.qid, a.id, ${d(0)} + ${d(1)} + ${d(2)} + ${d(3)} AS distance
       |  FROM assigned a CROSS JOIN q
       |  JOIN cb k0 ON k0.cid = a.c0
       |  JOIN cb k1 ON k1.cid = a.c1
       |  JOIN cb k2 ON k2.cid = a.c2
       |  JOIN cb k3 ON k3.cid = a.c3)
       |SELECT qid, id, distance FROM cands
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin
  }

  /** pq_ivf_res_fixed oracle — the residual recipe with every part
    * pinned. Precision contract: the residual is a FLOAT subtraction on
    * both sides (Scala `v(i) - cv(i)` on Float ≡ DuckDB float4 − float4,
    * both IEEE-754 single ops), and every distance fold then widens to
    * DOUBLE exactly like the non-residual oracles. */
  private lazy val pqIvfResFixedSql: String = {
    val sq = (a: String, b: String) =>
      s"""list_reduce(list_transform(list_zip($a, $b),
         |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b)""".stripMargin
    val resExpr = (v: String, c: String) =>
      s"""list_transform(list_zip($v, $c),
         |    x -> CAST(x[1] AS FLOAT) - CAST(x[2] AS FLOAT))""".stripMargin
    val aSub = (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = (s + 1) * 16
      s"a$s AS (SELECT r.id, CAST(k.cid AS INT) AS c$s " +
        "FROM resdoc r CROSS JOIN cb k " +
        "QUALIFY row_number() OVER (PARTITION BY r.id ORDER BY " +
        pqSliceSqSql("k.cvec", "r.rvec", lo, hi) + ", k.cid) = 1)"
    }.mkString(",\n")
    val d = (0 until 4).map(s =>
      pqSliceSqSql(s"k$s.cvec", "p.qrvec", s * 16 + 1, (s + 1) * 16))
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
       |cb AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
       |cl AS (
       |  SELECT c.vec_id AS id, CAST(k.cid AS INT) AS cluster
       |  FROM embeddings c CROSS JOIN cent k
       |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |    ${sq("k.cvec", "c.embedding")}, k.cid) = 1),
       |resdoc AS (
       |  SELECT c.vec_id AS id, cl.cluster,
       |    ${resExpr("c.embedding", "k.cvec")} AS rvec
       |  FROM embeddings c JOIN cl ON cl.id = c.vec_id
       |  JOIN cent k ON k.cid = cl.cluster),
       |$aSub,
       |assigned AS (SELECT id, c0, c1, c2, c3 FROM a0
       |  JOIN a1 USING(id) JOIN a2 USING(id) JOIN a3 USING(id)),
       |probes AS (
       |  SELECT q.vec_id AS qid, q.embedding AS qvec, CAST(k.cid AS INT) AS cluster
       |  FROM embeddings q CROSS JOIN cent k WHERE q.vec_id < 5
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |    ${sq("k.cvec", "q.embedding")}, k.cid) <= 2),
       |probesr AS (
       |  SELECT p.qid, p.cluster,
       |    ${resExpr("p.qvec", "k.cvec")} AS qrvec
       |  FROM probes p JOIN cent k ON k.cid = p.cluster),
       |cands AS (
       |  SELECT p.qid, cl.id, ${d(0)} + ${d(1)} + ${d(2)} + ${d(3)} AS distance
       |  FROM probesr p
       |  JOIN cl ON cl.cluster = p.cluster
       |  JOIN assigned a ON a.id = cl.id
       |  JOIN cb k0 ON k0.cid = a.c0
       |  JOIN cb k1 ON k1.cid = a.c1
       |  JOIN cb k2 ON k2.cid = a.c2
       |  JOIN cb k3 ON k3.cid = a.c3)
       |SELECT qid, id, distance FROM cands
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
       |ORDER BY qid, distance, id""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "text_langid" -> {
      val s = TextOps.stopwords
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sc AS (SELECT doc_id,
         |  ${stopHitSql(s("en"))} AS s_en, ${stopHitSql(s("de"))} AS s_de,
         |  ${stopHitSql(s("es"))} AS s_es, ${stopHitSql(s("fr"))} AS s_fr
         | FROM t)
         |SELECT doc_id, CASE
         |  WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
         |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |  WHEN s_es >= s_fr THEN 'es'
         |  ELSE 'fr' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "text_quality" -> {
      val s = TextOps.stopwords
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS n,
         |  CASE WHEN length(text) > 0
         |   THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE)
         |   ELSE CAST(0.0 AS DOUBLE) END AS punct,
         |  CAST(${stopHitSql(s("en"))} + ${stopHitSql(s("de"))}
         |     + ${stopHitSql(s("es"))} + ${stopHitSql(s("fr"))} AS DOUBLE) AS stops
         | FROM t)
         |SELECT doc_id,
         |  0.4 * least(CAST(1.0 AS DOUBLE), n / 100.0)
         |  + 0.3 * (CAST(1.0 AS DOUBLE) - punct)
         |  + 0.3 * (CASE WHEN n > 0 THEN stops / n ELSE CAST(0.0 AS DOUBLE) END) AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the curation chain end-to-end: each CTE mirrors one already-gated
    // stage (langid, quality, source cap, normalized dedup, group
    // split) in the SAME order the Spark query composes them
    "pipeline_curate" -> {
      val s = TextOps.stopwords
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |sc AS (SELECT doc_id, source, text, toks,
         |  ${stopHitSql(s("en"))} AS s_en, ${stopHitSql(s("de"))} AS s_de,
         |  ${stopHitSql(s("es"))} AS s_es, ${stopHitSql(s("fr"))} AS s_fr
         | FROM t),
         |lang AS (SELECT doc_id, source, text, CASE
         |  WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
         |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |  WHEN s_es >= s_fr THEN 'es'
         |  ELSE 'fr' END AS lang_pred,
         |  0.4 * least(CAST(1.0 AS DOUBLE), CAST(len(toks) AS DOUBLE) / 100.0)
         |  + 0.3 * (CAST(1.0 AS DOUBLE) - (CASE WHEN length(text) > 0
         |      THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |         / CAST(length(text) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END))
         |  + 0.3 * (CASE WHEN len(toks) > 0
         |      THEN CAST(s_en + s_de + s_es + s_fr AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END) AS quality
         | FROM sc),
         |gated AS (SELECT doc_id, source, text, lang_pred FROM lang
         |  WHERE lang_pred <> 'und' AND quality >= 0.5),
         |capped AS (SELECT doc_id, source, text, lang_pred FROM gated
         |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) <= 20),
         |dedup AS (SELECT doc_id, source, lang_pred,
         |  md5(trim(regexp_replace(
         |    regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
         |    '\\s+', ' ', 'g'))) AS norm_h
         | FROM capped
         | QUALIFY row_number() OVER (PARTITION BY norm_h ORDER BY doc_id) = 1),
         |fin AS (SELECT doc_id, source, lang_pred,
         |  CAST(concat('0x', substr(md5(CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
         |    / 4294967296.0 AS frac
         | FROM dedup)
         |SELECT doc_id, source, lang_pred,
         |  CASE WHEN frac < 0.8 THEN 'train'
         |       WHEN frac < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM fin ORDER BY doc_id""".stripMargin
    },

    // md5-derived fraction: first 8 hex chars over 2^32 — exact in a
    // double on both engines, so the cut comparisons hash-match
    "doc_split" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS frac
        | FROM documents)
        |SELECT doc_id,
        |  CASE WHEN frac < 0.8 THEN 'train'
        |       WHEN frac < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM f ORDER BY doc_id""".stripMargin,

    "doc_split_by_source" ->
      """WITH f AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS frac
        | FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN frac < 0.8 THEN 'train'
        |       WHEN frac < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM f ORDER BY doc_id""".stripMargin,

    "doc_sample_stratified" ->
      """WITH f AS (SELECT doc_id, lang,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS frac
        | FROM documents)
        |SELECT doc_id, lang FROM f
        |WHERE frac < (CASE WHEN lang = 'en' THEN 0.5
        |                   WHEN lang = 'zh' THEN 0.25
        |                   ELSE 1.0 END)
        |ORDER BY doc_id""".stripMargin,

    // priority sampling replay: same u, same one-division priority,
    // τ = the 201st priority, estimator = max(w, τ)
    "doc_sample_weighted" ->
      """WITH p AS (SELECT doc_id, n_chars,
        |  CAST(n_chars AS DOUBLE) /
        |    ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 8)) AS BIGINT) + 1.0)
        |      / 4294967296.0) AS pri
        | FROM documents),
        |r AS (SELECT doc_id, n_chars, pri,
        |  ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS rn FROM p),
        |t AS (SELECT max(CASE WHEN rn = 201 THEN pri END) AS tau FROM r)
        |SELECT r.doc_id, r.n_chars,
        |  CASE WHEN t.tau IS NULL THEN CAST(r.n_chars AS DOUBLE)
        |       ELSE greatest(CAST(r.n_chars AS DOUBLE), t.tau) END AS est_w
        |FROM r, t WHERE r.rn <= 200 ORDER BY r.doc_id""".stripMargin,

    // stratified replay: per-language rank and per-language τ
    "doc_sample_weighted_lang" ->
      """WITH p AS (SELECT doc_id, lang, n_chars,
        |  CAST(n_chars AS DOUBLE) /
        |    ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 8)) AS BIGINT) + 1.0)
        |      / 4294967296.0) AS pri
        | FROM documents),
        |r AS (SELECT doc_id, lang, n_chars, pri,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rn FROM p),
        |t AS (SELECT lang, pri AS tau FROM r WHERE rn = 41)
        |SELECT r.lang, r.doc_id, r.n_chars,
        |  CASE WHEN t.tau IS NULL THEN CAST(r.n_chars AS DOUBLE)
        |       ELSE greatest(CAST(r.n_chars AS DOUBLE), t.tau) END AS est_w
        |FROM r LEFT JOIN t ON r.lang = t.lang
        |WHERE r.rn <= 40 ORDER BY r.doc_id""".stripMargin,

    "doc_pack" ->
      s"""WITH f AS (SELECT doc_id, text,
         |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    / 4294967296.0 AS frac
         | FROM documents),
         |sp AS (SELECT doc_id,
         |  CASE WHEN frac < 0.8 THEN 'train'
         |       WHEN frac < 0.9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id % 8 AS shard,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens
         | FROM f),
         |c AS (SELECT doc_id, split, shard, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (PARTITION BY split, shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prior
         | FROM sp)
         |SELECT doc_id, split, shard, n_tokens,
         |  CAST(prior // 1000 AS BIGINT) AS bin
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_pack_subword" -> docPackSubwordSql,
    "doc_pack_bpe" -> docPackBpeSql,
    "mix_temperature_subword" -> mixTemperatureSubwordSql,

    "doc_winnow" ->
      s"""$winnowFpsCtes
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, list_min(fps) AS min_fp
        |FROM f ORDER BY doc_id""".stripMargin,

    // the same fps CTEs feeding the standard inverted-index jaccard
    "dedup_winnow" ->
      s"""$winnowFpsCtes,
        |ex0 AS (SELECT doc_id, unnest(fps) AS s FROM f),
        |keep AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= 64),
        |ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN keep USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
        |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
        |  FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT i2.doc_a, i2.doc_b,
        |  CAST(i2.i AS DOUBLE) / CAST(na.n + nb.n - i2.i AS DOUBLE) AS jaccard
        |FROM inter i2
        |JOIN sizes na ON na.doc_id = i2.doc_a
        |JOIN sizes nb ON nb.doc_id = i2.doc_b
        |WHERE CAST(i2.i AS DOUBLE) / CAST(na.n + nb.n - i2.i AS DOUBLE) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "text_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, CAST($simhashSql AS INTEGER) AS simhash
         |FROM t ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |FROM t ORDER BY doc_id""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b, n_bands FROM mhpairs ORDER BY 1, 2""".stripMargin,

    // the whole chain replayed: band join → edit filter → closure
    // over VERIFIED pairs only → per-component argmax → anti-join
    "pipeline_dedup" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |vp AS (SELECT p.doc_a, p.doc_b FROM mhpairs p
         |  JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b
         |  WHERE levenshtein(da.text, db.text) <= 6),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM vp
         |  UNION SELECT doc_b, doc_a FROM vp),
         |reach(id, comp) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
         |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         |scored AS (SELECT c.id, c.comp, d.n_chars FROM comps c
         |  JOIN documents d ON d.doc_id = c.id),
         |losers AS (SELECT id FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY comp
         |    ORDER BY n_chars DESC, id ASC) > 1)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY d.doc_id""".stripMargin,

    // blocking recall, exact-verify precision: the minhash candidates
    // confirmed by textbook unit-cost Levenshtein on both engines
    "dedup_edit_verify" ->
      s"""WITH $minhashPairsCtes
         |SELECT p.doc_a, p.doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
         |FROM mhpairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |WHERE levenshtein(da.text, db.text) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same pipeline at r = 3 (4 bands of 3 minima, md5-fold band keys)
    "dedup_minhash_r3" ->
      s"""WITH ${minhashPairsCtesOf(12, 3)}
         |SELECT doc_a, doc_b, n_bands FROM mhpairs ORDER BY 1, 2""".stripMargin,

    // near-dup pairs straddling a split boundary (cross-join of the
    // minhash pair CTEs with the md5-fraction split rule)
    "split_contamination" ->
      s"""WITH $minhashPairsCtes,
         |sp AS (SELECT doc_id,
         |  CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |         / 4294967296.0 < 0.8 THEN 'train'
         |       WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |         / 4294967296.0 < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         | FROM documents)
         |SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
         |FROM mhpairs p
         |JOIN sp a ON a.doc_id = p.doc_a
         |JOIN sp b ON b.doc_id = p.doc_b
         |WHERE a.split <> b.split
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    // HLL register table: 60-bit md5 hash, low-8-bit bucket, rho =
    // 53 − bitlen(high 52 bits); ltrim('0') normalizes bin() padding
    // across engines (see Sketches.hllRegisters)
    "sketch_hll_registers" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex AS (SELECT unnest(sh) AS s FROM s2),
         |h AS (SELECT CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM ex),
         |r AS (SELECT CAST(h & 255 AS INT) AS bucket,
         |  CAST(CASE WHEN (h >> 8) = 0 THEN 53
         |       ELSE 53 - len(ltrim(bin(h >> 8), '0')) END AS INT) AS rho FROM h)
         |SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket
         |ORDER BY bucket""".stripMargin,

    // HLL estimate: α·m²/Σ2^{−rho}, the Σ a list_reduce over the seed
    // (empty-bucket count) prepended to the bucket-ordered powers of
    // two — the exact fold order of Sketches.hllEstimate
    "sketch_hll" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex AS (SELECT unnest(sh) AS s FROM s2),
         |h AS (SELECT CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM ex),
         |r AS (SELECT CAST(h & 255 AS INT) AS bucket,
         |  CAST(CASE WHEN (h >> 8) = 0 THEN 53
         |       ELSE 53 - len(ltrim(bin(h >> 8), '0')) END AS INT) AS rho FROM h),
         |regs AS (SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket),
         |agg AS (SELECT CAST(count(*) AS INT) AS nonempty,
         |  list(power(2.0, 0.0 - CAST(rho AS DOUBLE)) ORDER BY bucket) AS vals
         |  FROM regs),
         |ex2 AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS exact FROM ex)
         |SELECT 256 AS m, a.nonempty,
         |  (0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0 /
         |    list_reduce(list_prepend(CAST(256 - a.nonempty AS DOUBLE), a.vals),
         |      (x, y) -> x + y) AS estimate,
         |  e.exact
         |FROM agg a, ex2 e""".stripMargin,

    // the small-range branch: raw ≤ 2.5·m switches to linear counting
    // m·ln(m/empty); ln is libm (1-ulp engine variance) so the lane
    // compares floor(est·10³) — margin from any quantization boundary
    // is ~10 orders of magnitude above an ulp
    "sketch_hll_small" ->
      """WITH vals AS (SELECT doc_id % 30 AS v FROM documents),
        |h AS (SELECT CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM vals),
        |r AS (SELECT CAST(h & 255 AS INT) AS bucket,
        |  CAST(CASE WHEN (h >> 8) = 0 THEN 53
        |       ELSE 53 - len(ltrim(bin(h >> 8), '0')) END AS INT) AS rho FROM h),
        |regs AS (SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket),
        |agg AS (SELECT CAST(count(*) AS INT) AS nonempty,
        |  list(power(2.0, 0.0 - CAST(rho AS DOUBLE)) ORDER BY bucket) AS vals
        |  FROM regs),
        |ex2 AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS exact FROM vals),
        |est AS (SELECT a.nonempty,
        |  (0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0 /
        |    list_reduce(list_prepend(CAST(256 - a.nonempty AS DOUBLE), a.vals),
        |      (x, y) -> x + y) AS raw
        |  FROM agg a)
        |SELECT 256 AS m, e.nonempty,
        |  CAST(floor((CASE WHEN e.nonempty < 256 AND e.raw <= 640.0
        |    THEN 256.0 * ln(256.0 / CAST(256 - e.nonempty AS DOUBLE))
        |    ELSE e.raw END) * 1000.0) AS BIGINT) AS est_q3,
        |  x.exact
        |FROM est e, ex2 x""".stripMargin,

    // KMV bottom-R: distinct shingle hashes, ORDER BY h LIMIT R, then
    // the (R−1)·2^60/h_R estimator (all operands exactly representable)
    "sketch_kmv" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex AS (SELECT DISTINCT unnest(sh) AS s FROM s2),
         |h AS (SELECT DISTINCT CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM ex),
         |bot AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |agg AS (SELECT CAST(count(*) AS INT) AS n_held, max(h) AS h_r FROM bot),
         |ex2 AS (SELECT CAST(count(*) AS BIGINT) AS exact FROM ex)
         |SELECT 256 AS r, a.n_held,
         |  CASE WHEN a.n_held < 256 THEN CAST(a.n_held AS DOUBLE)
         |    ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(a.h_r AS DOUBLE)
         |  END AS estimate,
         |  e.exact
         |FROM agg a, ex2 e""".stripMargin,

    // under-capacity: the sketch holds all 300 hashes, estimate = exact
    "sketch_kmv_small" ->
      """WITH vals AS (SELECT doc_id % 300 AS v FROM documents),
        |h AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM vals),
        |bot AS (SELECT h FROM h ORDER BY h LIMIT 512),
        |agg AS (SELECT CAST(count(*) AS INT) AS n_held, max(h) AS h_r FROM bot)
        |SELECT 512 AS r, a.n_held,
        |  CASE WHEN a.n_held < 512 THEN CAST(a.n_held AS DOUBLE)
        |    ELSE 511.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(a.h_r AS DOUBLE)
        |  END AS estimate
        |FROM agg a""".stripMargin,

    // KMV overlap: two bottom-256 sketches over the parity halves'
    // shingle hashes, combined to the bottom-256 of the union with
    // per-sketch membership flags; Jaccard = flagged/|K|, union via
    // the (R−1)·2^60/h_R estimator, intersection = product — all
    // exact-operand arithmetic, gated un-quantized next to the exact
    // counts
    "sketch_kmv_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ea AS (SELECT DISTINCT unnest(sh) AS s FROM s2 WHERE doc_id % 2 = 0),
         |eb AS (SELECT DISTINCT unnest(sh) AS s FROM s2 WHERE doc_id % 2 = 1),
         |ha AS (SELECT DISTINCT CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM ea),
         |hb AS (SELECT DISTINCT CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM eb),
         |sa AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         |sb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         |u AS (SELECT h, max(a) AS ina, max(b) AS inb FROM (
         |    SELECT h, 1 AS a, 0 AS b FROM sa
         |    UNION ALL SELECT h, 0 AS a, 1 AS b FROM sb) z
         |  GROUP BY h ORDER BY h LIMIT 256),
         |agg AS (SELECT CAST(count(*) AS INT) AS n_held, max(h) AS h_r,
         |  CAST(coalesce(sum(ina * inb), 0) AS BIGINT) AS n_both FROM u),
         |exu AS (SELECT s, max(a) AS a, max(b) AS b FROM (
         |    SELECT s, 1 AS a, 0 AS b FROM ea
         |    UNION ALL SELECT s, 0 AS a, 1 AS b FROM eb) z GROUP BY s),
         |ex AS (SELECT CAST(coalesce(sum(a * b), 0) AS BIGINT) AS exact_inter,
         |  CAST(count(*) AS BIGINT) AS exact_union FROM exu)
         |SELECT 256 AS r, a.n_held, a.n_both,
         |  (CASE WHEN a.n_held = 0 THEN 0.0
         |    ELSE CAST(a.n_both AS DOUBLE) / CAST(a.n_held AS DOUBLE) END)
         |    AS jaccard,
         |  (CASE WHEN a.n_held < 256 THEN CAST(a.n_held AS DOUBLE)
         |    ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(a.h_r AS DOUBLE)
         |  END) AS union_est,
         |  (CASE WHEN a.n_held = 0 THEN 0.0
         |    ELSE CAST(a.n_both AS DOUBLE) / CAST(a.n_held AS DOUBLE) END)
         |  * (CASE WHEN a.n_held < 256 THEN CAST(a.n_held AS DOUBLE)
         |    ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(a.h_r AS DOUBLE)
         |  END) AS inter_est,
         |  e.exact_inter, e.exact_union
         |FROM agg a, ex e""".stripMargin,

    // per-source registers (GROUP BY source, bucket) and the same
    // sorted-fold estimate per source, quantized to 10⁻³ (sources sit
    // on both sides of the linear-counting switch; ln is libm)
    "sketch_hll_by_source" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |s2 AS (SELECT source, $shinglesSql AS sh FROM t),
         |ex AS (SELECT source, unnest(sh) AS s FROM s2),
         |h AS (SELECT source, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM ex),
         |r AS (SELECT source, CAST(h & 255 AS INT) AS bucket,
         |  CAST(CASE WHEN (h >> 8) = 0 THEN 53
         |       ELSE 53 - len(ltrim(bin(h >> 8), '0')) END AS INT) AS rho FROM h),
         |regs AS (SELECT source, bucket, max(rho) AS rho FROM r GROUP BY source, bucket),
         |agg AS (SELECT source, CAST(count(*) AS INT) AS nonempty,
         |  list(power(2.0, 0.0 - CAST(rho AS DOUBLE)) ORDER BY bucket) AS vals
         |  FROM regs GROUP BY source),
         |est AS (SELECT source, nonempty,
         |  (0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0 /
         |    list_reduce(list_prepend(CAST(256 - nonempty AS DOUBLE), vals),
         |      (x, y) -> x + y) AS raw
         |  FROM agg),
         |ex2 AS (SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS exact
         |  FROM ex GROUP BY source)
         |SELECT e.source, e.nonempty,
         |  CAST(floor((CASE WHEN e.nonempty < 256 AND e.raw <= 640.0
         |    THEN 256.0 * ln(256.0 / CAST(256 - e.nonempty AS DOUBLE))
         |    ELSE e.raw END) * 1000.0) AS BIGINT) AS est_q3,
         |  x.exact
         |FROM est e JOIN ex2 x USING (source)
         |ORDER BY source""".stripMargin,

    // bottom-128 sample by md5 rank of doc_id, then nearest-rank
    // quantiles: rank = max(1, ceil(q·n)) over the sample's token
    // counts — reported values are actual data values
    "sample_quantiles" ->
      """WITH w AS (SELECT doc_id, text,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents QUALIFY row_number() OVER (ORDER BY h) <= 128),
        |v AS (SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS value FROM w),
        |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |  count(*) OVER () AS n FROM v)
        |SELECT CAST(q.q AS DOUBLE) AS q, r.value
        |FROM r JOIN (VALUES (0.5), (0.9), (0.99)) q(q)
        |  ON r.rn = GREATEST(1, CAST(ceil(CAST(q.q AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
        |ORDER BY q""".stripMargin,

    // CMS counters replicated in SQL: depth-3 salted md5 columns,
    // GROUP BY (row, col) counts, probe = least over the 3 counters
    "sketch_cms_topk" ->
      """WITH t AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |pos AS (SELECT v.salt,
        |    (CAST(concat('0x', substr(md5(concat(CAST(v.salt AS VARCHAR), '|', t.token)), 1, 15)) AS BIGINT)
        |      & 4095) AS col
        |  FROM t CROSS JOIN (VALUES (1), (2), (3)) v(salt)),
        |cms AS (SELECT salt, col, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pos GROUP BY salt, col),
        |top AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t
        |  GROUP BY token ORDER BY n DESC, token LIMIT 20),
        |probed AS (SELECT tk.token, tk.n,
        |    least(c1.cnt, c2.cnt, c3.cnt) AS cms_count
        |  FROM top tk
        |  LEFT JOIN cms c1 ON c1.salt = 1 AND c1.col =
        |    (CAST(concat('0x', substr(md5(concat('1|', tk.token)), 1, 15)) AS BIGINT) & 4095)
        |  LEFT JOIN cms c2 ON c2.salt = 2 AND c2.col =
        |    (CAST(concat('0x', substr(md5(concat('2|', tk.token)), 1, 15)) AS BIGINT) & 4095)
        |  LEFT JOIN cms c3 ON c3.salt = 3 AND c3.col =
        |    (CAST(concat('0x', substr(md5(concat('3|', tk.token)), 1, 15)) AS BIGINT) & 4095))
        |SELECT token, n, cms_count FROM probed
        |ORDER BY n DESC, token""".stripMargin,

    // Bloom bitmap replicated in SQL: salted md5 positions → packed
    // 64-bit words via bit_or; probe = all 3 bits present per shingle
    "sketch_bloom_contamination" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM s2),
         |sp AS (SELECT doc_id,
         |  CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |         / 4294967296.0 < 0.8 THEN 'train'
         |       WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |         / 4294967296.0 < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         | FROM documents),
         |pos AS (SELECT
         |    (CAST(concat('0x', substr(md5(concat(CAST(v.salt AS VARCHAR), '|', e.s)), 1, 15)) AS BIGINT)
         |      & 262143) AS p
         |  FROM ex e JOIN sp ON sp.doc_id = e.doc_id
         |  CROSS JOIN (VALUES (1), (2), (3)) v(salt)
         |  WHERE sp.split = 'train'),
         |bloom AS (SELECT p >> 5 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS bits
         |  FROM pos GROUP BY 1),
         |probe AS (SELECT e.doc_id, e.s,
         |    (CAST(concat('0x', substr(md5(concat(CAST(v.salt AS VARCHAR), '|', e.s)), 1, 15)) AS BIGINT)
         |      & 262143) AS p
         |  FROM ex e JOIN sp ON sp.doc_id = e.doc_id
         |  CROSS JOIN (VALUES (1), (2), (3)) v(salt)
         |  WHERE sp.split = 'test'),
         |hits AS (SELECT pr.doc_id, pr.s,
         |    bool_and(b.bits IS NOT NULL AND
         |      (b.bits & (CAST(1 AS BIGINT) << CAST(pr.p & 31 AS INT))) <> 0) AS hit
         |  FROM probe pr LEFT JOIN bloom b ON b.word = (pr.p >> 5)
         |  GROUP BY pr.doc_id, pr.s)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // prefix-causal keep-first: drop a doc iff it shares a band bucket
    // with any lower-id doc (the streaming-enforceable admission rule)
    "dedup_prefix_keepfirst" ->
      s"""WITH $minhashBandsCtes,
         |losers AS (
         |  SELECT DISTINCT r.doc_id
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
         |SELECT d.doc_id FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY d.doc_id""".stripMargin,

    // connected components over the minhash pair graph: min reachable
    // id per node via a recursive transitive closure — exact at oracle
    // scale; the Spark side converges by min-label propagation
    "dedup_components" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM mhpairs
         |  UNION SELECT doc_b, doc_a FROM mhpairs),
         |reach(id, comp) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id)
         |SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // same component closure, then the keep-best argmax: the survivor
    // of each component maximizes (n_chars, then smallest id); every
    // non-survivor component member drops, singletons stay
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM mhpairs
         |  UNION SELECT doc_b, doc_a FROM mhpairs),
         |reach(id, comp) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
         |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         |scored AS (SELECT c.id, c.comp, d.n_chars FROM comps c
         |  JOIN documents d ON d.doc_id = c.id),
         |losers AS (SELECT id FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY comp
         |    ORDER BY n_chars DESC, id ASC) > 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_jaccard_capped" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex0 AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM s2),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= 8),
         |ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN keep USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
         |  FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2)
         |SELECT i2.doc_a, i2.doc_b,
         |  CAST(i2.i AS DOUBLE) / CAST(na.n + nb.n - i2.i AS DOUBLE) AS jaccard
         |FROM inter i2
         |JOIN sizes na ON na.doc_id = i2.doc_a
         |JOIN sizes nb ON nb.doc_id = i2.doc_b
         |WHERE CAST(i2.i AS DOUBLE) / CAST(na.n + nb.n - i2.i AS DOUBLE) >= 0.2
         |ORDER BY 1, 2""".stripMargin,

    // keep-first over md5 of the canonical (normalized) text
    "dedup_exact_norm" ->
      """WITH n AS (SELECT doc_id,
        |  md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS norm_h
        | FROM documents)
        |SELECT doc_id FROM n
        |QUALIFY row_number() OVER (PARTITION BY norm_h ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // chunk i = tokens [i*24+1, i*24+32] (1-based slice, both engines
    // clamp at the list end); (n-1)//24 is floor-div in DuckDB and
    // trunc-div in Spark — greatest(·, 0) collapses the one divergent
    // input (n = 0, whose empty chunk is filtered anyway)
    "doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  unnest(range(0, greatest((len(toks) - 1) // 24, 0) + 1)) AS chunk_idx,
         |  toks FROM t)
         |SELECT doc_id, chunk_idx,
         |  array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk
         |FROM c
         |WHERE array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') <> ''
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // keep-first over chunk digests, ordered by (doc_id, chunk_idx)
    "chunk_dedup_keepfirst" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  unnest(range(0, greatest((len(toks) - 1) // 24, 0) + 1)) AS chunk_idx,
         |  toks FROM t),
         |ch AS (SELECT doc_id, chunk_idx,
         |  md5(array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')) AS digest
         | FROM c
         | WHERE array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') <> '')
         |SELECT doc_id, chunk_idx FROM ch
         |QUALIFY row_number() OVER (PARTITION BY digest
         |  ORDER BY doc_id * 1000000 + chunk_idx) = 1
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_vocab" ->
      """WITH t AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |  x -> len(x) > 0)) AS token FROM documents)
        |SELECT token, count(*) AS n FROM t GROUP BY token
        |ORDER BY n DESC, token LIMIT 100""".stripMargin,

    // the full BPE training loop replayed in SQL (see bpeChainCtes)
    "bpe_train" -> bpeTrainSql,
    // and the trained merges re-applied per word as a replace chain
    "bpe_tokenize" -> bpeTokenizeSql,

    // Exhaustive replay of the unigram Viterbi: enumerate EVERY
    // segmentation of every word (recursive CTE over the pinned piece
    // table — single-char coverage guarantees termination at
    // pos = len), then the identical tie-break argmax. The Spark DP
    // must match the enumeration exactly.
    "unigram_tokenize" -> unigramTokenizeSql,

    // persistence is identity: the save→load→tokenize lane must hash
    // exactly like direct tokenization
    "unigram_persist" -> unigramTokenizeSql,
    "bpe_persist" -> bpeTokenizeSql,

    // same enumeration, then frequency-weighted piece counting — the
    // hard-EM E-step as exact integers
    "unigram_estep" ->
      s"""WITH RECURSIVE pieces AS (SELECT piece, sc FROM (
         |    SELECT chr(97 + CAST(i AS INT)) AS piece,
         |      CAST(-14000000 AS BIGINT) AS sc
         |    FROM (SELECT unnest(range(0, 26)) AS i)
         |    UNION ALL
         |    SELECT piece, CAST(sc AS BIGINT) FROM (VALUES
         |      ('th', -11000000), ('he', -11000000), ('in', -11000000),
         |      ('er', -11000000), ('an', -11000000), ('re', -11000000),
         |      ('on', -11000000), ('at', -11000000), ('en', -11000000),
         |      ('nd', -11000000),
         |      ('the', -9000000), ('ing', -9000000), ('and', -9000000),
         |      ('ion', -9000000), ('ent', -9000000), ('ati', -9000000))
         |      AS v(piece, sc)) u),
         |wf AS (SELECT t AS word, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS t FROM documents WHERE doc_id < 120)
         |  WHERE regexp_full_match(t, '[a-z]{1,12}') GROUP BY t),
         |states AS (
         |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS sc, 0 AS np,
         |    '' AS path FROM wf
         |  UNION ALL
         |  SELECT s.word, s.pos + len(p.piece), s.sc + p.sc, s.np + 1,
         |    CASE WHEN s.path = '' THEN p.piece
         |         ELSE s.path || ' ' || p.piece END
         |  FROM states s JOIN pieces p
         |    ON substr(s.word, s.pos + 1, len(p.piece)) = p.piece),
         |best AS (SELECT word, path, row_number() OVER
         |    (PARTITION BY word ORDER BY sc DESC, np ASC, path ASC) AS rn
         |  FROM states WHERE pos = len(word)),
         |ex AS (SELECT word, unnest(string_split(path, ' ')) AS piece
         |  FROM best WHERE rn = 1)
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS n
         |FROM ex JOIN wf USING (word)
         |GROUP BY piece ORDER BY piece""".stripMargin,

    // directed-containment max over the same inverted index
    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM s2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
         |  FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2)
         |SELECT i2.doc_a, i2.doc_b,
         |  greatest(CAST(i2.i AS DOUBLE) / CAST(na.n AS DOUBLE),
         |           CAST(i2.i AS DOUBLE) / CAST(nb.n AS DOUBLE)) AS containment
         |FROM inter i2
         |JOIN sizes na ON na.doc_id = i2.doc_a
         |JOIN sizes nb ON nb.doc_id = i2.doc_b
         |WHERE greatest(CAST(i2.i AS DOUBLE) / CAST(na.n AS DOUBLE),
         |               CAST(i2.i AS DOUBLE) / CAST(nb.n AS DOUBLE)) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |ex AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM s2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
         |  FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2)
         |SELECT i2.doc_a, i2.doc_b,
         |  CAST(i2.i AS DOUBLE) / CAST(na.n + nb.n - i2.i AS DOUBLE) AS jaccard
         |FROM inter i2
         |JOIN sizes na ON na.doc_id = i2.doc_a
         |JOIN sizes nb ON nb.doc_id = i2.doc_b
         |WHERE CAST(i2.i AS DOUBLE) / CAST(na.n + nb.n - i2.i AS DOUBLE) >= 0.2
         |ORDER BY 1, 2""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |fp AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS sim FROM t)
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.sim, r.sim)) AS INTEGER) AS hamming
         |FROM fp l JOIN fp r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.sim, r.sim)) <= 2
         |ORDER BY 1, 2""".stripMargin,

    "dedup_simhash64" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |fp AS (SELECT doc_id, ($simhash64Sql) AS sim FROM t)
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.sim, r.sim)) AS INTEGER) AS hamming
         |FROM fp l JOIN fp r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.sim, r.sim)) <= 3
         |ORDER BY 1, 2""".stripMargin,

    "text_simhash64" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, ($simhash64Sql) AS simhash64
         |FROM t ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id AS id, 'text' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY id""".stripMargin,

    "image_phash" ->
      s"""SELECT CAST(id AS BIGINT) AS id, CAST(phash AS BIGINT) AS phash
         |FROM (VALUES $imagePhashValuesSql) AS v(id, phash)
         |ORDER BY id""".stripMargin,

    "audio_hash" ->
      s"""SELECT CAST(id AS BIGINT) AS id, CAST(ahash AS BIGINT) AS ahash
         |FROM (VALUES $audioHashValuesSql) AS v(id, ahash)
         |ORDER BY id""".stripMargin,

    "dedup_audio_hash" ->
      s"""WITH fp AS (SELECT CAST(id AS BIGINT) AS id,
         |    CAST(ahash AS BIGINT) AS ahash
         |  FROM (VALUES $audioHashValuesSql) AS v(id, ahash))
         |SELECT a.id AS doc_a, b.id AS doc_b,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.id < b.id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "audio_block_fp" ->
      s"""SELECT CAST(id AS BIGINT) AS id, CAST(block AS INTEGER) AS block,
         |  CAST(bfp AS INTEGER) AS bfp
         |FROM (VALUES $audioBlockValuesSql) AS v(id, block, bfp)
         |ORDER BY id, block""".stripMargin,

    // df cap -> anchor equi-join -> distinct-block offset vote, the
    // whole pair generator replayed over the kernel's block values
    "dedup_audio_shift" ->
      s"""WITH blocks AS (SELECT CAST(id AS BIGINT) AS id,
         |    CAST(block AS INTEGER) AS block, CAST(bfp AS INTEGER) AS bfp
         |  FROM (VALUES $audioBlockValuesSql) AS v(id, block, bfp)),
         |rare AS (SELECT bfp FROM blocks
         |  GROUP BY bfp HAVING COUNT(DISTINCT id) <= 64),
         |posted AS (SELECT b.* FROM blocks b
         |  WHERE b.bfp IN (SELECT bfp FROM rare))
         |SELECT a.id AS doc_a, b.id AS doc_b,
         |  CAST(a.block - b.block AS INTEGER) AS off,
         |  CAST(COUNT(DISTINCT a.block) AS BIGINT) AS n_matches
         |FROM posted a JOIN posted b
         |  ON a.bfp = b.bfp AND a.id < b.id
         |GROUP BY a.id, b.id, a.block - b.block
         |HAVING COUNT(DISTINCT a.block) >= 4
         |ORDER BY doc_a, doc_b, off""".stripMargin,

    // prefix rule over the block-pair generator: survivors = every id
    // that never appears as the higher side of a qualifying pair
    "dedup_audio_prefix" ->
      s"""WITH blocks AS (SELECT CAST(id AS BIGINT) AS id,
         |    CAST(block AS INTEGER) AS block, CAST(bfp AS INTEGER) AS bfp
         |  FROM (VALUES $audioBlockValuesSql) AS v(id, block, bfp)),
         |rare AS (SELECT bfp FROM blocks
         |  GROUP BY bfp HAVING COUNT(DISTINCT id) <= 64),
         |posted AS (SELECT b.* FROM blocks b
         |  WHERE b.bfp IN (SELECT bfp FROM rare)),
         |losers AS (SELECT DISTINCT b.id FROM posted a JOIN posted b
         |  ON a.bfp = b.bfp AND a.id < b.id
         |  GROUP BY a.id, b.id, a.block - b.block
         |  HAVING COUNT(DISTINCT a.block) >= 4)
         |SELECT DISTINCT id FROM blocks
         |WHERE id NOT IN (SELECT id FROM losers)
         |ORDER BY id""".stripMargin,

    // full quadratic hamming scan over the pinned hashes — the
    // pigeonhole chunk join must equal it exactly
    "dedup_image_phash" ->
      s"""WITH fp AS (SELECT CAST(id AS BIGINT) AS id,
         |    CAST(phash AS BIGINT) AS phash
         |  FROM (VALUES $imagePhashValuesSql) AS v(id, phash))
         |SELECT a.id AS doc_a, b.id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.id < b.id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // prefix rule: drop iff any lower-id hash within the threshold
    "dedup_image_prefix" ->
      s"""WITH fp AS (SELECT CAST(id AS BIGINT) AS id,
         |    CAST(phash AS BIGINT) AS phash
         |  FROM (VALUES $imagePhashValuesSql) AS v(id, phash)),
         |losers AS (SELECT DISTINCT b.id FROM fp a JOIN fp b ON a.id < b.id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 6)
         |SELECT id, phash FROM fp
         |WHERE id NOT IN (SELECT id FROM losers)
         |ORDER BY id""".stripMargin,

    // pairs + recursive component closure + keep-first over the pinned
    // hashes — the end-to-end image-dedup survivors
    "pipeline_image_dedup" ->
      s"""WITH RECURSIVE fp AS (SELECT CAST(id AS BIGINT) AS id,
         |    CAST(phash AS BIGINT) AS phash
         |  FROM (VALUES $imagePhashValuesSql) AS v(id, phash)),
         |vp AS (SELECT a.id AS doc_a, b.id AS doc_b
         |  FROM fp a JOIN fp b ON a.id < b.id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 6),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM vp
         |  UNION SELECT doc_b, doc_a FROM vp),
         |reach(id, comp) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING min(comp) <> id)
         |SELECT id, phash FROM fp
         |WHERE id NOT IN (SELECT id FROM losers)
         |ORDER BY id""".stripMargin,

    // ground truth = the fixture formula: raw(i,j) = (7i+3j) mod 11 − 5,
    // L2-normalized with the REAL round-trip (normalizeF replica),
    // holdout row i=3 diverted, ids re-ranked dense
    "vec_file_load" ->
      """WITH rows_ AS (SELECT i, list_transform(range(0, 8),
        |    j -> CAST(((i * 7 + j * 3) % 11) - 5 AS DOUBLE)) AS raw
        |  FROM (SELECT unnest(range(0, 20)) AS i)),
        |n AS (SELECT i, list_transform(raw, x ->
        |    CAST(CAST(x / sqrt(list_reduce(list_transform(raw, y -> y * y),
        |      (a, b) -> a + b)) AS REAL) AS DOUBLE)) AS v
        |  FROM rows_),
        |kept AS (SELECT CAST(CASE WHEN i < 3 THEN i ELSE i - 1 END AS BIGINT) AS id,
        |    'w' || CAST(i AS VARCHAR) AS word, v
        |  FROM n WHERE i <> 3)
        |SELECT id, word, CAST(u.j AS INT) AS dim, v[u.j + 1] AS val
        |FROM kept, (SELECT unnest(range(0, 8)) AS j) u
        |ORDER BY id, dim""".stripMargin,

    // ground truth = the jsonl fixture formula; the Spark side must
    // round-trip it through real ndjson bytes (plain + gzip shards)
    "jsonl_load" ->
      """WITH ids AS (SELECT CAST(unnest(range(0, 40)) AS BIGINT) AS i)
        |SELECT i AS id, 'doc ' || CAST(i AS VARCHAR) || ' body' AS text,
        |  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |       ELSE 'fr' END AS lang,
        |  i * 3 % 7 AS stars
        |FROM ids WHERE i % 9 <> 4 ORDER BY id""".stripMargin,

    // the corrupt lines, byte-for-byte as written into the fixture
    "jsonl_quarantine" ->
      """SELECT '{"id": ' || CAST(i AS VARCHAR) || ', "text": "truncat' AS raw
        |FROM (SELECT unnest(range(0, 40)) AS i)
        |WHERE i % 9 = 4 ORDER BY raw""".stripMargin,

    // same contract for the Matroska twin: the EBML generator
    // parameters are the ground truth
    "multimodal_video_meta_mkv" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  2000 + doc_id * 41 AS duration_ms,
        |  CAST(32 * (doc_id % 6 + 1) AS INT) AS width,
        |  CAST(24 * (doc_id % 4 + 1) AS INT) AS height,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'V_MPEG4/ISO/AVC'
        |       WHEN 1 THEN 'V_MPEGH/ISO/HEVC'
        |       WHEN 2 THEN 'V_VP9' ELSE 'V_AV1' END AS codec,
        |  1 AS n_tracks
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    // ground truth = the generator parameters: the Spark side must
    // build the ISO-BMFF bytes from them and parse them back exactly
    "multimodal_video_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, 'isom' AS container,
        |  1000 + doc_id * 37 AS duration_ms,
        |  CAST(16 * (doc_id % 8 + 1) AS INT) AS width,
        |  CAST(16 * (doc_id % 5 + 1) AS INT) AS height,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
        |       WHEN 2 THEN 'vp09' ELSE 'av01' END AS codec,
        |  1 AS n_tracks
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    "events_window" ->
      """SELECT ((epoch_ns(ts) // 1000) // 300000000) * 300 AS w_start,
        |  event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // union-window as-of: most recent strictly-earlier click per
    // purchase, ties by event_id, -1 sentinel for none
    "events_asof" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tus, user_id, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |    OVER win AS last_click,
        |  last_value(CASE WHEN event_type = 'click' THEN tus END IGNORE NULLS)
        |    OVER win AS last_click_tus
        | FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id,
        |  COALESCE(last_click, -1) AS last_click,
        |  COALESCE(last_click_tus, -1) AS last_click_tus
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // event-time RANGE frame on the integer ns axis, peers excluded;
    // value sum as fixed-point cents (the hash-portability contract)
    "events_rolling" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tus, user_id,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER win AS n_prev,
        |  CAST(COALESCE(sum(cents) OVER win, 0) AS BIGINT) AS sum_prev_cents
        |FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 600000000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,

    "events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events),
        |f AS (SELECT user_id, event_id, tns,
        |  CASE WHEN lag(tns) OVER w IS NULL
        |         OR tns - lag(tns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS flag
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
        |g AS (SELECT user_id, tns,
        |  CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(tns // 1000000000) AS start_s, max(tns // 1000000000) AS end_s
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ground truth for the bucketized range join = the plain BETWEEN
    // join over the same formula-derived intervals (µs integers)
    "range_join_events" ->
      """WITH pts AS (SELECT event_id, epoch_us(ts) AS tus FROM events),
        |iv AS (SELECT o_orderkey AS iid,
        |    1704067200000000 + (o_orderkey * 7919) % 2419200 * 1000000 AS lo
        |  FROM orders WHERE o_orderkey < 2000),
        |iv2 AS (SELECT iid, lo, lo + CASE WHEN iid % 97 = 0 THEN 864000000000
        |    ELSE (600 + iid % 7 * 1800) * 1000000 END AS hi FROM iv)
        |SELECT iid, count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM pts JOIN iv2 ON tus >= lo AND tus < hi
        |GROUP BY iid ORDER BY iid""".stripMargin,

    // overlap ground truth likewise; empty b-intervals (bhi = blo)
    // must contribute nothing, and the exactly-once proration shows up
    // as exact counts
    "interval_overlap_orders" ->
      """WITH a AS (SELECT o_orderkey AS aid,
        |    1704067200000000 + (o_orderkey * 7919) % 2419200 * 1000000 AS alo
        |  FROM orders WHERE o_orderkey < 2000 AND o_orderkey % 2 = 0),
        |a2 AS (SELECT aid, alo, alo + CASE WHEN aid % 97 = 0 THEN 864000000000
        |    ELSE (600 + aid % 7 * 1800) * 1000000 END AS ahi FROM a),
        |b AS (SELECT o_orderkey AS bid,
        |    1704067200000000 + (o_orderkey * 6689) % 2419200 * 1000000 AS blo
        |  FROM orders WHERE o_orderkey < 2000 AND o_orderkey % 2 = 1),
        |b2 AS (SELECT bid, blo, blo + CASE WHEN bid % 13 = 0 THEN 0
        |    WHEN bid % 97 = 0 THEN 864000000000
        |    ELSE (600 + bid % 7 * 1800) * 1000000 END AS bhi FROM b)
        |SELECT aid, count(*) AS n_overlaps,
        |  CAST(sum(bid) AS BIGINT) AS sum_bids
        |FROM a2 JOIN b2 ON alo < bhi AND blo < ahi AND ahi > alo AND bhi > blo
        |GROUP BY aid ORDER BY aid""".stripMargin,

    "dedup_embed" ->
      """SELECT l.vec_id AS id_a, r.vec_id AS id_b,
        |  1.0 - list_reduce(list_transform(list_zip(l.embedding, r.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b) AS distance
        |FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
        |WHERE 1.0 - list_reduce(list_transform(list_zip(l.embedding, r.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b) < 0.7
        |ORDER BY 1, 2""".stripMargin,
    // keep-first: every vector appears twice with distinct ids; the
    // smaller id survives (even rows' planted copy wins, odd rows' loses).
    // Offset = max(vec_id)+1, same derivation as the Spark side.
    "lsh_dedup_keepfirst" ->
      """WITH o AS (SELECT max(CAST(vec_id AS BIGINT)) + 1 AS off FROM embeddings)
        |SELECT CASE WHEN vec_id % 2 = 0 THEN vec_id - (SELECT off FROM o)
        |       ELSE CAST(vec_id AS BIGINT) END AS id
        |FROM embeddings ORDER BY 1""".stripMargin,

    // exact oracle because the degenerate forest (1 tree, unbounded leaf,
    // dedup off) puts every row in one bucket → candidate set IS all pairs
    "dedup_embed_lsh" ->
      """SELECT l.vec_id AS id_a, r.vec_id AS id_b,
        |  1.0 - list_reduce(list_transform(list_zip(l.embedding, r.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b) AS distance
        |FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
        |WHERE 1.0 - list_reduce(list_transform(list_zip(l.embedding, r.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b) < 0.7
        |ORDER BY 1, 2""".stripMargin,
    "lsh_bucket_fixed" -> {
      val bits = (0 until 4).map { i =>
        s"(CASE WHEN ${lshScoreSql(2 * i, 2 * i + 1, "e.embedding")} >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""SELECT e.vec_id AS id, $bits AS bucket
         |FROM embeddings e ORDER BY id""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // salted ≡ plain: the oracle is the UN-salted join
    "join_salted" ->
      """SELECT o.o_orderpriority,
        | CAST(sum(CAST(floor(CAST(l.l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
        |   * (100 - CAST(floor(CAST(l.l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_u4,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bucketed layout ≡ plain join: the oracle is the un-bucketed SQL
    "bucket_join_colocated" ->
      """SELECT l.l_orderkey, o.o_orderpriority,
        | CAST(sum(CAST(floor(CAST(l.l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(sum(CAST(floor(CAST(l.l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q3_join" ->
      """SELECT l.l_orderkey,
        | CAST(sum(CAST(floor(CAST(l.l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
        |   * (100 - CAST(floor(CAST(l.l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_u4
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue_u4 DESC, l_orderkey LIMIT 10""".stripMargin,

    "window_topk" ->
      """SELECT l_suppkey,
        |  CAST(row_number() OVER w AS INTEGER) AS rk,
        |  l_orderkey,
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS price_c
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |QUALIFY rk <= 3
        |ORDER BY l_suppkey, rk""".stripMargin,

    "knn_exhaustive" -> exhaustiveKnnSql,

    // matryoshka two-stage replayed verbatim: top-40 by (16-dim prefix
    // sqdist, id), then top-10 by (full sqdist, id) within the
    // shortlist — both stages' folds are the bit-portable sqdist chain
    "knn_matryoshka" ->
      """WITH pre AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding[1:16], q.embedding[1:16]),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS pd
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5),
        |short AS (
        |  SELECT qid, id FROM pre
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY pd, id) <= 40),
        |scored AS (
        |  SELECT s.qid, s.id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM short s JOIN embeddings c ON c.vec_id = s.id
        |    JOIN embeddings q ON q.vec_id = s.qid)
        |SELECT qid, id, distance FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
        |ORDER BY qid, distance, id""".stripMargin,

    // Degenerate-config LSH forest search IS exhaustive search
    // (LSHForestSpec gates the equivalence; same output shape).
    "lsh_knn_exact" -> exhaustiveKnnSql,
    // and stays exhaustive through a save→load round-trip
    "lsh_persist_exact" -> exhaustiveKnnSql,

    // Probe-all IVF search IS exhaustive search (every cluster probed,
    // exact re-rank — same top-k, same distances).
    "ivf_search_all" -> exhaustiveKnnSql,

    // probe-all over the SPLIT grid is pure re-binning → same
    // exhaustive ground truth
    "ivf_split_search_all" -> exhaustiveKnnSql,

    // self-kNN join at nprobe = all cells is exact → exhaustive
    // self-join ground truth; the probed config replays probe
    // selection + re-rank per query row
    "ivf_knn_join_all" -> exhaustiveSelfKnnSql,

    // same exhaustive kNN, then the band filter + per-anchor re-rank
    "mine_hard_negatives" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q),
        |knn AS (SELECT qid, id, distance FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10),
        |band AS (SELECT qid, id, distance FROM knn
        |  WHERE qid <> id AND distance > 1.0 AND distance <= 1.45)
        |SELECT qid, id, distance,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY distance, id) AS BIGINT) AS rank
        |FROM band
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 3
        |ORDER BY qid, rank""".stripMargin,
    "ivf_knn_join_fixed" -> ivfKnnJoinFixedSql,

    // SemDeDup: within-cell cosine pairs, then recursive
    // connected-component keep-first over the pair graph
    "dedup_semantic_pairs" ->
      s"""WITH $semanticPairsCtes
         |SELECT id_a, id_b, distance FROM sempairs
         |ORDER BY id_a, id_b""".stripMargin,
    // prefix rule: no closure — drop iff any lower-id in-cell pair
    "dedup_semantic_prefix" ->
      s"""WITH $semanticPairsCtes,
         |losers AS (SELECT DISTINCT id_b AS id FROM sempairs)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM losers)
         |ORDER BY vec_id""".stripMargin,

    // repeated 5-gram positions → df >= 2 filter → gaps-and-islands
    // run merge (pos − row_number groups consecutive positions)
    "dedup_spans" ->
      s"""WITH $repeatedSpansCtes
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
         |  CAST(max(pos) + 4 AS BIGINT) AS end_tok,
         |  CAST(count(*) AS BIGINT) AS n_grams
         |FROM runs GROUP BY doc_id, grp
         |ORDER BY doc_id, start_tok""".stripMargin,

    "dedup_spans_scrub" ->
      s"""WITH $repeatedSpansCtes,
         |spans AS (
         |  SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok
         |  FROM runs GROUP BY doc_id, grp),
         |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = k.doc_id
         |      AND k.pos BETWEEN s.start_tok AND s.end_tok)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed,
         |  CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, md5(coalesce(a.scrubbed, '')) AS scrub_digest,
         |  coalesce(a.n_kept, 0) AS n_kept
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // CDC: boundary after token i iff hash60(tok_{i-1} ⊔ tok_i) % 16 == 0;
    // chunk index = exclusive prefix sum of boundary flags
    "doc_chunks_cdc" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, n_toks, chunk, digest FROM chunks
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "chunk_dedup_cdc" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx FROM (
         |  SELECT doc_id, chunk_idx, digest,
         |    doc_id * 1000000 + chunk_idx AS rank FROM chunks)
         |QUALIFY row_number() OVER (PARTITION BY digest ORDER BY rank) = 1
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // exact self-kNN (k=5) → mutual edges → recursive component closure
    "knn_graph_clusters" ->
      """WITH RECURSIVE scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q),
        |knn AS (SELECT qid, id FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 5),
        |mut AS (SELECT least(qid, id) AS a, greatest(qid, id) AS b
        |  FROM knn WHERE qid <> id GROUP BY 1, 2 HAVING count(*) = 2),
        |edges AS (SELECT a AS s, b AS d FROM mut UNION SELECT b, a FROM mut),
        |reach(id, comp) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id)
        |SELECT id, min(comp) AS comp FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,

    "dedup_semantic" ->
      s"""WITH RECURSIVE $semanticPairsCtes,
         |edges AS (SELECT id_a AS s, id_b AS d FROM sempairs
         |  UNION SELECT id_b, id_a FROM sempairs),
         |reach(id, comp) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING min(comp) <> id)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM losers)
         |ORDER BY vec_id""".stripMargin,

    "knn_cosine" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    1.0 - list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
        |ORDER BY qid, distance, id""".stripMargin,

    // metadata-filtered ANN: the same exhaustive shape over the
    // label-filtered corpus
    "knn_filtered" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.label = 2)
        |SELECT qid, id, distance FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
        |ORDER BY qid, distance, id""".stripMargin,

    // the norm-augmentation reduction must reproduce brute MIPS exactly
    "mips_ivf_exact" -> knnMipsSql,

    // MIPS: negated dot through the same ascending top-k contract
    "knn_mips" -> knnMipsSql,

    "vec_kernels" ->
      """SELECT vec_id,
        |  sqrt(list_reduce(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)) AS mag,
        |  CASE WHEN sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)) < 1e-6
        |   THEN sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b))
        |   ELSE sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(CAST(CAST(x AS DOUBLE) / sqrt(list_reduce(list_transform(embedding,
        |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a,b) -> a+b)) AS REAL) AS DOUBLE)
        |         * CAST(CAST(CAST(x AS DOUBLE) / sqrt(list_reduce(list_transform(embedding,
        |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a,b) -> a+b)) AS REAL) AS DOUBLE)),
        |      (a,b) -> a+b))
        |  END AS norm_mag
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "vec_arith" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a,
        |  list_transform(list_reverse(embedding), x -> CAST(x AS DOUBLE)) AS b
        |  FROM embeddings)
        |SELECT vec_id,
        |  list_reduce(list_transform(list_zip(a, b), p -> p[1] + p[2]),
        |    (s, x) -> s + x) AS s_add,
        |  list_reduce(list_transform(list_zip(a, b), p -> p[1] - p[2]),
        |    (s, x) -> s + x) AS s_sub,
        |  list_reduce(list_transform(a, x -> x / 2.5), (s, x) -> s + x) AS s_div,
        |  list_reduce(list_transform(list_zip(a, b), p -> (p[1] + p[2]) / 2.0),
        |    (s, x) -> s + x) AS s_mid
        |FROM e ORDER BY vec_id""".stripMargin,

    "embed_int8" ->
      """WITH q AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS lo,
        |  CAST(list_max(embedding) AS DOUBLE) AS hi FROM embeddings),
        |c AS (SELECT vec_id, embedding, lo, hi,
        |  CASE WHEN hi = lo THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(embedding, x ->
        |      CAST(floor((CAST(x AS DOUBLE) - lo) / ((hi - lo) / 255.0) + 0.5) AS BIGINT))
        |  END AS codes FROM q)
        |SELECT vec_id, len(embedding) AS n_dims, lo, hi,
        |  list_reduce(codes, (a, b) -> a + b) AS code_sum,
        |  list_reduce(list_transform(list_zip(embedding, codes),
        |    p -> abs(CAST(p[1] AS DOUBLE)
        |      - (lo + CAST(p[2] AS DOUBLE) * ((hi - lo) / 255.0)))),
        |    (a, b) -> greatest(a, b)) AS max_abs_err
        |FROM c ORDER BY vec_id""".stripMargin,

    "sq8_search_all" -> sq8ExactKnnSql,

    // probe-all SQ8 radius == the radius sweep over the DEQUANTIZED
    // corpus (same quantize→dequantize replay as sq8_search_all)
    "sq8_range_all" ->
      """WITH r AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS lo,
        |  CAST(list_max(embedding) AS DOUBLE) AS hi FROM embeddings),
        |deq AS (SELECT vec_id,
        |  CASE WHEN hi = lo THEN list_transform(embedding, x -> lo)
        |    ELSE list_transform(embedding, x ->
        |      lo + floor((CAST(x AS DOUBLE) - lo) / ((hi - lo) / 255.0) + 0.5)
        |         * ((hi - lo) / 255.0)) END AS dq
        |  FROM r),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(q.embedding, c.dq),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM deq c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored WHERE distance <= 1.8
        |ORDER BY qid, id""".stripMargin,

    // BQ shortlist ⊇ corpus (probe-all, slack ∞) + exact re-rank ==
    // the exhaustive float radius sweep
    "bq_range_rerank" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored WHERE distance <= 1.8
        |ORDER BY qid, id""".stripMargin,
    // IVF-PQ probe-all + slack ∞ + exact re-rank == the same
    // exhaustive float radius sweep (ADC estimates only prune)
    "pq_ivf_range_rerank" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored WHERE distance <= 1.8
        |ORDER BY qid, id""".stripMargin,

    // merged half-compressions under shared centroids ≡ single compress
    "sq8_merge_all" -> sq8ExactKnnSql,
    "sq8_rot_all" -> sq8RotAllSql,
    "bq_rot_asym_all" -> bqRotAsymSql,
    "pq_rot_fixed" -> pqRotFixedSql,
    "pq_opq_fixed" -> pqOpqFixedSql,
    // the save/load round-trip must serve the identical ADC top-k
    "pq_opq_persist_fixed" -> pqOpqFixedSql,
    "sq8_persist_all" -> sq8ExactKnnSql,
    "sq8_rerank_exact" -> exhaustiveKnnSql,
    "vec_rotate" -> vecRotateSql,
    "bq_hamming_all" -> bqHammingSql,
    "bq_persist_all" -> bqHammingSql,
    "bq_asym_all" -> bqAsymSql,
    // merged half-compressions under shared centroids ≡ single compress
    "bq_merge_asym_all" -> bqAsymSql,
    // the self-join face: every row queries the sign codes (probe-all)
    "bq_knn_join_asym_all" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    0.0 - list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> CASE WHEN x[1] > 0 THEN CAST(x[2] AS DOUBLE)
        |           ELSE 0.0 - CAST(x[2] AS DOUBLE) END),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q)
        |SELECT qid, id, distance FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
        |ORDER BY qid, distance, id""".stripMargin,
    // shortlist ⊇ corpus ⇒ the two-stage join equals float exhaustive
    "bq_knn_join_rerank" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 50)
        |SELECT qid, id, distance FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 10
        |ORDER BY qid, distance, id""".stripMargin,
    "bq_res_asym_all" -> bqResAsymSql,
    "bq_rerank_exact" -> exhaustiveKnnSql,

    "vec_kernels_sql" ->
      """SELECT vec_id,
        |  list_reduce(list_transform(list_zip(embedding, list_reverse(embedding)),
        |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |    (a,b) -> a+b) AS sqd_rev,
        |  list_reduce(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b) AS dot_self,
        |  1.0 - list_reduce(list_transform(list_zip(embedding, list_reverse(embedding)),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a,b) -> a+b) AS cos_rev
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "ivf_assign" ->
      """WITH cent AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8)
        |SELECT c.vec_id AS id, CAST(k.cid AS INT) AS cluster
        |FROM embeddings c CROSS JOIN cent k
        |QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |  list_reduce(list_transform(list_zip(k.cvec, c.embedding),
        |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
        |  k.cid) = 1
        |ORDER BY id""".stripMargin,

    // assignment + µ-quantized distance + the multiplied-through
    // k-sigma inequality, all exact integers (DuckDB widens the sums
    // to HUGEINT; only the boolean and the BIGINT q_dist are emitted)
    "embed_outliers" ->
      """WITH cent AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
        |asg AS (
        |  SELECT c.vec_id AS id, CAST(k.cid AS INT) AS cluster,
        |    CAST(floor(list_reduce(list_transform(list_zip(k.cvec, c.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b)
        |      * 1000000.0 + 0.5) AS BIGINT) AS q_dist
        |  FROM embeddings c CROSS JOIN cent k
        |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |    list_reduce(list_transform(list_zip(k.cvec, c.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b),
        |    k.cid) = 1),
        |st AS (SELECT cluster, count(*) AS n, sum(q_dist) AS s,
        |  sum(q_dist * q_dist) AS ss FROM asg GROUP BY cluster)
        |SELECT asg.id, asg.cluster, asg.q_dist,
        |  (st.n * asg.q_dist - st.s > 0 AND
        |   (st.n * asg.q_dist - st.s) * (st.n * asg.q_dist - st.s)
        |     > 4 * (st.n * st.ss - st.s * st.s)) AS is_outlier
        |FROM asg JOIN st USING (cluster) ORDER BY asg.id""".stripMargin,

    // pinned-init Lloyd's: assign (fixed centroids) → fixed-point mean
    // update (BIGINT µ-sums / n in double → REAL; empty cluster → zeros)
    // → re-assign. dim=64 hardcoded like vec_mean_by_label.
    "ivf_kmeans_fixed" -> ivfKmeansFixedSqlOver(""),
    // same quantized Lloyd's chain over corpus-minus-removed (every 7th
    // id taken down first) — the remove→retrain→reassign lifecycle
    "ivf_rebalance_fixed" -> ivfKmeansFixedSqlOver("WHERE vec_id % 7 <> 0"),

    "pq_assign_fixed" ->
      s"WITH $pqAssignCtesSql\nSELECT id, c0, c1, c2, c3 FROM assigned ORDER BY id",

    // ADC distance = left-fold of the four per-subspace LUT sqdists —
    // the SQL's left-assoc + chain is the same ((d0+d1)+d2)+d3 order the
    // Scala scan accumulates, so doubles are bit-identical
    "pq_adc_fixed" -> pqAdcFixedSql,
    // a faithful save→load round-trip reproduces the ADC search exactly
    "pq_persist_fixed" -> pqAdcFixedSql,
    // merged half-encodes under shared codebooks ≡ the single encode
    "pq_merge_fixed" -> pqAdcFixedSql,

    // Probed-cell ADC: the ivf_search_fixed probe CTEs route each query
    // to its 2 nearest pinned cells; candidates are the rows ASSIGNED to
    // those cells; distance is the pq_adc_fixed LUT fold. Composition of
    // the two proven oracles, exercising IVFPQ end-to-end.
    "pq_ivf_fixed" -> pqIvfFixedSql,
    // add-then-search must equal build-then-search (frozen parts):
    // the same oracle gates the IVFPQ add path
    "pq_ivf_add_fixed" -> pqIvfFixedSql,
    // merged half-builds under shared pinned parts ≡ the single build
    "pq_ivf_merge_fixed" -> pqIvfFixedSql,
    // the residual recipe, float residuals + double folds replicated
    "pq_ivf_res_fixed" -> pqIvfResFixedSql,
    // save→load→search lifecycle for the composed index: a faithful
    // round-trip reproduces the in-memory probed ADC bit-for-bit
    "pq_ivf_persist_fixed" -> pqIvfFixedSql,
    // whole-corpus shortlist + exact re-rank must equal exhaustive:
    // the degenerate config that puts the re-rank serving path under
    // the oracle (both the flat and the composed index)
    "pq_rerank_exact" -> exhaustiveKnnSql,
    "pq_ivf_rerank_exact" -> exhaustiveKnnSql,

    "ivf_search_fixed" -> ivfSearchFixedSql,
    // same identity for IVFFlat.add against frozen centroids
    "ivf_add_fixed" -> ivfSearchFixedSql,
    // merge(a,b) under surviving centroids ≡ the single full assignment
    // (the incoming half re-assigns, so the same fixed-search SQL gates)
    "ivf_merge_fixed" -> ivfSearchFixedSql,
    // grid-union merge probed across ALL combined cells ⇒ exhaustive
    "ivf_merge_union_all" -> exhaustiveKnnSql,
    // removal = the fixed search over corpus-minus-removed
    "ivf_remove_fixed" -> ivfSearchFixedSqlOver("WHERE c.vec_id % 9 <> 3"),
    "ivf_search_filtered" -> ivfSearchFixedSqlOver("WHERE c.label = 2"),
    // and for the save→load→search lifecycle: a faithful round-trip
    // reproduces the in-memory search bit-for-bit
    "ivf_persist_fixed" -> ivfSearchFixedSql,

    // degenerate forest + add stays exhaustive (root-leaf descent)
    "lsh_add_exact" -> exhaustiveKnnSql,
    // merge routes the incoming half through the surviving planes (the
    // add descent), so the merged degenerate forest stays exhaustive
    "lsh_merge_exact" -> exhaustiveKnnSql,

    // degenerate-config HNSW search IS exhaustive cosine over the
    // normalized vectors (HNSWSpec gates the equivalence); the same
    // oracle gates the persistence round-trip and the add path, and a
    // corpus filter gives the soft-delete twin its universe
    "hnsw_knn_exact" -> hnswExactKnnSql,
    "hnsw_persist_exact" -> hnswExactKnnSql,
    "hnsw_add_exact" -> hnswExactKnnSql,
    // shard-union merge of two exhaustive half-graphs ≡ exhaustive
    "hnsw_merge_exact" -> hnswExactKnnSql,
    "hnsw_remove_exact" -> hnswExactKnnSqlOver("AND c.vec_id % 9 <> 3"),

    "vec_mean_by_label" ->
      """SELECT label, CAST(u.i - 1 AS INTEGER) AS dim,
        |  CAST(sum(CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q6,
        |  count(*) AS n
        |FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ivf_cost_fixed" -> {
      val d = (0 until 8).map(c =>
        s"""list_reduce(list_transform(list_zip(e.embedding,
           |  (SELECT embedding FROM embeddings WHERE vec_id = $c)),
           |  x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
           |     * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (a,b) -> a+b)""".stripMargin)
        .mkString("least(", ", ", ")")
      s"""SELECT CAST(sum(CAST(floor($d * 1000000.0) AS BIGINT)) AS BIGINT) AS cost_q6,
         |  count(*) AS n
         |FROM embeddings e""".stripMargin
    },

    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  CAST(tf.tf AS DOUBLE) *
        |    ((CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |      - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) AS score
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS INT) AS term_rank
        |FROM sc QUALIFY term_rank <= 5
        |ORDER BY doc_id, term_rank""".stripMargin,

    "docs_source_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    "docs_source_cap_prefix" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents) WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    t -> len(t) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
        |    i -> t[i] || ' ' || t[i+1])) AS gram
        |  FROM toks),
        |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram),
        |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |  count(*) AS n_distinct, max(cnt) AS top_count FROM pg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_grams, 0) AS n_grams,
        |  coalesce(a.n_distinct, 0) AS n_distinct,
        |  coalesce(a.top_count, 0) AS top_count,
        |  CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
        |    ELSE CAST(a.top_count AS DOUBLE) / CAST(a.n_grams AS DOUBLE) END AS rep_ratio,
        |  CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
        |    ELSE CAST(a.n_grams - a.n_distinct AS DOUBLE) / CAST(a.n_grams AS DOUBLE) END AS dup_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "pii_scan" -> {
      import graft.operators.Pii
      s"""WITH aug AS ($piiAugSql)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Pii.EmailRe}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '${Pii.Ipv4Re}')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t, '${Pii.PhoneRe}')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '${Pii.SsnRe}')) AS BIGINT) AS n_ssn
         |FROM aug ORDER BY doc_id""".stripMargin
    },

    // the same email → ssn → phone → ip replace chain as Pii.redact
    "pii_redact" -> {
      import graft.operators.Pii
      s"""WITH aug AS ($piiAugSql)
         |SELECT doc_id, md5(r) AS red_digest,
         |  CAST(length(r) AS BIGINT) AS red_len
         |FROM (SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Pii.EmailRe}', '${Pii.EmailTag}', 'g'),
         |    '${Pii.SsnRe}', '${Pii.SsnTag}', 'g'),
         |    '${Pii.PhoneRe}', '${Pii.PhoneTag}', 'g'),
         |    '${Pii.Ipv4Re}', '${Pii.IpTag}', 'g') AS r
         | FROM aug)
         |ORDER BY doc_id""".stripMargin
    },

    // distinct-trigram membership against the doc_id%97==0 benchmark
    // subset, mirroring Decontam.ngramOverlap (left join keeps docs
    // with zero/empty gram sets)
    "contam_ngram" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         |  ELSE [] END AS grams FROM t),
         |bg AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE doc_id % 97 = 0),
         |cand AS (SELECT doc_id, len(grams) AS n_grams, grams FROM g
         |  WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(grams) AS g FROM cand),
         |hits AS (SELECT ex.doc_id, count(*) AS n_hit
         |  FROM ex JOIN bg USING (g) GROUP BY 1)
         |SELECT c.doc_id, CAST(c.n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CASE WHEN c.n_grams > 0
         |    THEN CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(c.n_grams AS DOUBLE)
         |    ELSE 0.0 END AS overlap
         |FROM cand c LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin,

    // gram-hit positions → gaps-and-islands spans → covered-token
    // anti-join → in-order reassembly — mirrors
    // Decontam.scrubContaminatedSpans + Dedup.scrubRepeatedSpans
    "contam_scrub_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |cand AS (SELECT * FROM t WHERE doc_id % 97 <> 0),
         |bg AS (SELECT DISTINCT md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g
         |  FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
         |        FROM t WHERE doc_id % 97 = 0 AND len(toks) >= 3)),
         |hitpos AS (SELECT doc_id, i - 1 AS pos FROM (
         |    SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
         |    FROM cand WHERE len(toks) >= 3) x
         |  WHERE md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) IN
         |    (SELECT g FROM bg)),
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         | FROM hitpos),
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 2 AS e
         | FROM isl GROUP BY doc_id, grp),
         |tok AS (SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |    i -> {'pos': i - 1, 'tok': toks[i]})) AS u FROM cand)),
         |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = k.doc_id AND k.pos BETWEEN s.s AND s.e)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed,
         |  count(*) AS n_kept FROM kept GROUP BY 1)
         |SELECT c.doc_id, COALESCE(a.scrubbed, '') AS scrubbed,
         |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
         |FROM cand c LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // keep rate sqrt(n_min/n_src) per source (alpha = 0.5), salted md5
    // fraction membership — mirrors Splits.mixByTemperature
    "mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_src FROM documents GROUP BY lang),
        |m AS (SELECT min(n_src) AS n_min FROM c),
        |r AS (SELECT lang,
        |  sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) AS mix_rate
        | FROM c, m),
        |f AS (SELECT doc_id, lang,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS frac
        | FROM documents)
        |SELECT f.doc_id, f.lang FROM f JOIN r USING (lang)
        |WHERE f.frac < r.mix_rate ORDER BY doc_id""".stripMargin,

    // add-one bigram LM trained and scored on the corpus, probabilities
    // quantized to 1e-9 BIGINTs before the order-independent sum —
    // mirrors LangModel.selfScore
    "lm_bigram_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bge AS (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)),
         |      i -> {'w1': toks[i], 'w2': toks[i+1]})
         |    ELSE [] END) AS b FROM t)),
         |big AS (SELECT w1, w2, count(*) AS c2 FROM bge GROUP BY 1, 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vocab
         |  FROM (SELECT unnest(toks) AS w FROM t)),
         |p AS (SELECT e.doc_id,
         |  CAST(floor((CAST(b.c2 + 1 AS DOUBLE)
         |      / (CAST(u.c1 AS DOUBLE) + CAST(v.vocab AS DOUBLE)))
         |    * 1000000000.0 + 0.5) AS BIGINT) AS p_q
         | FROM bge e JOIN big b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN v),
         |s AS (SELECT doc_id, count(*) AS n_bigrams, sum(p_q) AS score_q
         |  FROM p GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(s.score_q, 0) AS BIGINT) AS score_q
         |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // KN replay: self-scored, so every bigram/context is seen and the
    // inner joins walk the seen path of scoreKN exactly
    "lm_kn_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bge AS (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)),
         |      i -> {'w1': toks[i], 'w2': toks[i+1]})
         |    ELSE [] END) AS b FROM t)),
         |big AS (SELECT w1, w2, count(*) AS c2 FROM bge GROUP BY 1, 2),
         |uni AS (SELECT w1, sum(c2) AS c1, count(*) AS nf FROM big GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS np FROM big GROUP BY 1),
         |tt AS (SELECT count(*) AS t FROM big),
         |p AS (SELECT e.doc_id,
         |  CAST(floor((greatest(CAST(b.c2 AS DOUBLE) - 0.75, 0.0)
         |      / CAST(u.c1 AS DOUBLE)
         |    + ((0.75 * CAST(u.nf AS DOUBLE)) / CAST(u.c1 AS DOUBLE))
         |      * (CAST(c.np AS DOUBLE) / CAST(tt.t AS DOUBLE)))
         |    * 1000000000.0 + 0.5) AS BIGINT) AS p_q
         | FROM bge e JOIN big b USING (w1, w2) JOIN uni u USING (w1)
         |  JOIN cont c USING (w2) CROSS JOIN tt),
         |s AS (SELECT doc_id, count(*) AS n_bigrams, sum(p_q) AS score_q
         |  FROM p GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(s.score_q, 0) AS BIGINT) AS score_q
         |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // trigram-KN replay: self-scored, so every context level is seen
    // and the inner joins walk scoreKN3's fully-interpolated path
    "lm_kn3_score" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM documents),
         |tge AS MATERIALIZED (SELECT doc_id, g['w1'] AS w1, g['w2'] AS w2, g['w3'] AS w3 FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks) - 1),
         |      i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})
         |    ELSE [] END) AS g FROM t)),
         |tri AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c3 FROM tge GROUP BY 1, 2, 3),
         |ctx AS MATERIALIZED (SELECT w1, w2, sum(c3) AS c12, count(*) AS nf12 FROM tri GROUP BY 1, 2),
         |mid AS MATERIALIZED (SELECT w2, w3, count(*) AS n1c FROM tri GROUP BY 1, 2),
         |midctx AS MATERIALIZED (SELECT w2, sum(n1c) AS n1c2, count(*) AS nf2c FROM mid GROUP BY 1),
         |bge AS MATERIALIZED (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)),
         |      i -> {'w1': toks[i], 'w2': toks[i+1]})
         |    ELSE [] END) AS b FROM t)),
         |b2 AS MATERIALIZED (SELECT DISTINCT w1, w2 FROM bge),
         |np1 AS MATERIALIZED (SELECT w2 AS w3, count(*) AS np FROM b2 GROUP BY 1),
         |tt AS MATERIALIZED (SELECT count(*) AS t2 FROM b2),
         |p AS (SELECT e.doc_id,
         |  CAST(floor((
         |    greatest(CAST(r.c3 AS DOUBLE) - 0.75, 0.0) / CAST(x.c12 AS DOUBLE)
         |    + ((0.75 * CAST(x.nf12 AS DOUBLE)) / CAST(x.c12 AS DOUBLE))
         |      * (greatest(CAST(m.n1c AS DOUBLE) - 0.75, 0.0) / CAST(mc.n1c2 AS DOUBLE)
         |        + ((0.75 * CAST(mc.nf2c AS DOUBLE)) / CAST(mc.n1c2 AS DOUBLE))
         |          * (CAST(n.np AS DOUBLE) / CAST(tt.t2 AS DOUBLE)))
         |  ) * 1000000000.0 + 0.5) AS BIGINT) AS p_q
         | FROM tge e
         |  JOIN tri r ON e.w1 = r.w1 AND e.w2 = r.w2 AND e.w3 = r.w3
         |  JOIN ctx x ON e.w1 = x.w1 AND e.w2 = x.w2
         |  JOIN mid m ON e.w2 = m.w2 AND e.w3 = m.w3
         |  JOIN midctx mc ON e.w2 = mc.w2
         |  JOIN np1 n ON e.w3 = n.w3
         |  CROSS JOIN tt),
         |s AS (SELECT doc_id, count(*) AS n_trigrams, sum(p_q) AS score_q
         |  FROM p GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(s.score_q, 0) AS BIGINT) AS score_q
         |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    "layout_zorder" ->
      s"""WITH b AS ($zBucketsSql)
         |SELECT event_id, bu, bv, ${zInterleaveSql("bu", "bv", 8)} AS zkey,
         |  (${zInterleaveSql("bu", "bv", 8)}) >> 8 AS zbin
         |FROM b ORDER BY event_id""".stripMargin,

    // re-layout is lossless: the oracle aggregates the SOURCE table
    "layout_write_sized" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "layout_zorder_stats" ->
      s"""WITH b AS ($zBucketsSql),
         |z AS (SELECT bu, bv, ${zInterleaveSql("bu", "bv", 8)} AS zkey FROM b)
         |SELECT zkey >> 8 AS zbin, count(*) AS n,
         |  min(bu) AS min_bu, max(bu) AS max_bu,
         |  min(bv) AS min_bv, max(bv) AS max_bv
         |FROM z GROUP BY 1 ORDER BY zbin""".stripMargin,

    "layout_hilbert" ->
      s"""WITH b AS ($zBucketsSql),
         |${hilbertCtesSql(8)}
         |SELECT event_id, bu, bv, CAST(hd AS BIGINT) AS hkey
         |FROM h8 ORDER BY event_id""".stripMargin,

    // same Hilbert chain, then the blocking window as a plain
    // abs-diff self-join ground truth
    "dedup_neighbor_keys" ->
      s"""WITH b AS ($zBucketsSql),
         |${hilbertCtesSql(8)},
         |k AS (SELECT event_id, CAST(hd AS BIGINT) AS hkey FROM h8)
         |SELECT l.event_id AS id_a, r.event_id AS id_b,
         |  abs(l.hkey - r.hkey) AS key_dist
         |FROM k l JOIN k r
         |  ON l.event_id < r.event_id AND abs(l.hkey - r.hkey) < 3
         |ORDER BY id_a, id_b""".stripMargin,

    // the Gopher rule battery: exact integer sums + two single double
    // divisions, the keep flag replayed threshold-for-threshold
    "quality_gopher" -> {
      val s = TextOps.stopwords
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CASE WHEN len(toks) > 0
         |    THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE)
         |    ELSE 0.0 END AS mean_wlen,
         |  CASE WHEN len(toks) > 0
         |    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE)
         |    ELSE 0.0 END AS frac_alpha,
         |  CAST(${stopHitSql(s("en"))} + ${stopHitSql(s("de"))}
         |     + ${stopHitSql(s("es"))} + ${stopHitSql(s("fr"))} AS BIGINT) AS n_stops
         | FROM t)
         |SELECT doc_id, n_words, mean_wlen, frac_alpha, n_stops,
         |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
         |    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
         |    AND frac_alpha >= 0.8 AND n_stops >= 2
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // percent_rank tie semantics are engine-identical; the bucket is
    // floor(rank·10) capped at 9
    "quality_calibrated" ->
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER w AS q_rank,
        |  CAST(least(floor(percent_rank() OVER w * 10), 9) AS INT) AS q_bucket
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY n_chars)
        |ORDER BY doc_id""".stripMargin,

    // pinned-weight linear classifier logit: the SAME left-fold
    // multiply-add order as QualityLR.logit — bit-identical doubles
    "quality_lr_logit" -> {
      val s = TextOps.stopwords
      val Seq(w0, w1, w2, w3, w4) = lrPinnedW
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CASE WHEN len(toks) > 0
         |    THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE)
         |    ELSE 0.0 END AS mean_wlen,
         |  CASE WHEN len(toks) > 0
         |    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE)
         |    ELSE 0.0 END AS frac_alpha,
         |  CAST(${stopHitSql(s("en"))} + ${stopHitSql(s("de"))}
         |     + ${stopHitSql(s("es"))} + ${stopHitSql(s("fr"))} AS BIGINT) AS n_stops
         | FROM t),
         |l AS (SELECT doc_id,
         |  $w0 * 1.0
         |  + $w1 * least(CAST(1.0 AS DOUBLE), CAST(n_words AS DOUBLE) / 100.0)
         |  + $w2 * least(CAST(1.0 AS DOUBLE), mean_wlen / 10.0)
         |  + $w3 * frac_alpha
         |  + $w4 * least(CAST(1.0 AS DOUBLE), CASE WHEN n_words > 0
         |      THEN CAST(n_stops AS DOUBLE) / CAST(n_words AS DOUBLE) * 10.0
         |      ELSE 0.0 END) AS logit
         | FROM m)
         |SELECT doc_id, logit, CAST(CASE WHEN logit > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM l ORDER BY doc_id""".stripMargin
    },

    // the full pretrain chain: each CTE mirrors one already-gated stage
    // (pii redact, gopher gate, trigram decontam, sqrt mixing, group
    // split) in the SAME order the Spark query composes them; the
    // redacted text is aliased `text` so the shared toks fragment
    // applies unchanged
    "pipeline_pretrain" -> {
      val s = TextOps.stopwords
      import graft.operators.Pii
      s"""WITH aug AS ($piiAugSql),
         |red AS (SELECT a.doc_id, d.lang, d.source,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(a.t,
         |    '${Pii.EmailRe}', '${Pii.EmailTag}', 'g'),
         |    '${Pii.SsnRe}', '${Pii.SsnTag}', 'g'),
         |    '${Pii.PhoneRe}', '${Pii.PhoneTag}', 'g'),
         |    '${Pii.Ipv4Re}', '${Pii.IpTag}', 'g') AS text
         | FROM aug a JOIN documents d USING (doc_id)),
         |tk AS (SELECT doc_id, lang, source, text, $toksSql AS toks FROM red),
         |mt AS (SELECT doc_id, lang, source, text, toks,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CASE WHEN len(toks) > 0
         |    THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_wlen,
         |  CASE WHEN len(toks) > 0
         |    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS frac_alpha,
         |  CAST(${stopHitSql(s("en"))} + ${stopHitSql(s("de"))}
         |     + ${stopHitSql(s("es"))} + ${stopHitSql(s("fr"))} AS BIGINT) AS n_stops
         | FROM tk),
         |g AS (SELECT doc_id, lang, source, text, toks FROM mt
         |  WHERE n_words >= 50 AND n_words <= 100000 AND mean_wlen >= 3.0
         |    AND mean_wlen <= 10.0 AND frac_alpha >= 0.8 AND n_stops >= 2),
         |gr AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         |  ELSE [] END AS grams FROM g),
         |bg AS (SELECT DISTINCT unnest(grams) AS gm FROM gr WHERE doc_id % 97 = 0),
         |cand AS (SELECT doc_id, len(grams) AS n_grams, grams FROM gr
         |  WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(grams) AS gm FROM cand),
         |hits AS (SELECT ex.doc_id, count(*) AS n_hit
         |  FROM ex JOIN bg USING (gm) GROUP BY 1),
         |dropped AS (SELECT c.doc_id FROM cand c JOIN hits h USING (doc_id)
         |  WHERE c.n_grams > 0
         |    AND CAST(h.n_hit AS DOUBLE) / CAST(c.n_grams AS DOUBLE) >= 0.08),
         |clean AS (SELECT doc_id, lang, source, text FROM g
         |  WHERE doc_id % 97 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM dropped)),
         |c AS (SELECT lang, count(*) AS n_src FROM clean GROUP BY lang),
         |mm AS (SELECT min(n_src) AS n_min FROM c),
         |r AS (SELECT lang,
         |  sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) AS mix_rate
         | FROM c, mm),
         |fm AS (SELECT cl.doc_id, cl.lang, cl.source, cl.text,
         |  CAST(concat('0x', substr(md5(CAST(cl.doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
         |    / 4294967296.0 AS frac
         | FROM clean cl),
         |mixed AS (SELECT fm.doc_id, fm.lang, fm.source, fm.text
         |  FROM fm JOIN r USING (lang) WHERE fm.frac < r.mix_rate),
         |fin AS (SELECT doc_id, lang, source, text,
         |  CAST(concat('0x', substr(md5(CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
         |    / 4294967296.0 AS gfrac
         | FROM mixed)
         |SELECT doc_id, lang, source,
         |  CASE WHEN gfrac < 0.8 THEN 'train'
         |       WHEN gfrac < 0.9 THEN 'val' ELSE 'test' END AS split,
         |  md5(text) AS red_digest
         |FROM fin ORDER BY doc_id""".stripMargin
    },

    // band signatures over ALL docs once (the shared minhash CTE chain),
    // then the cross-boundary join candidate %7<>0 × benchmark %7=0
    "contam_fuzzy" ->
      s"""WITH $minhashBandsCtes
         |SELECT c.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS n_bands
         |FROM bands c JOIN bands b ON c.band = b.band AND c.key = b.key
         |WHERE c.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
         |GROUP BY 1, 2 ORDER BY c.doc_id, bench_id""".stripMargin,

    // relational replay of the hashing-trick fold: same md5 index/sign
    // per token, summed per (doc, dimension), zeros dropped
    "text_hash_embed" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |h AS (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 16 AS i,
         |  CASE WHEN substr(md5(w), 9, 1) IN ('8','9','a','b','c','d','e','f')
         |    THEN -1 ELSE 1 END AS s
         | FROM tok)
         |SELECT doc_id, CAST(i AS BIGINT) AS i, CAST(sum(s) AS BIGINT) AS v
         |FROM h GROUP BY doc_id, i HAVING sum(s) <> 0
         |ORDER BY doc_id, i""".stripMargin,

    // densify the sparse hash-embedding sums over a doc × dim grid,
    // then integer-exact squared-L2 top-5 with (distance, id) ties
    "text_knn_hashembed" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |h AS (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 16 AS i,
         |  CASE WHEN substr(md5(w), 9, 1) IN ('8','9','a','b','c','d','e','f')
         |    THEN -1 ELSE 1 END AS s
         | FROM tok),
         |sp AS (SELECT doc_id, i, sum(s) AS v FROM h GROUP BY 1, 2),
         |grid AS (SELECT d.doc_id, gs.i FROM (SELECT DISTINCT doc_id FROM t) d
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS i) gs),
         |dense AS (SELECT g.doc_id, g.i, CAST(coalesce(sp.v, 0) AS BIGINT) AS v
         |  FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.i = sp.i),
         |e AS (SELECT doc_id, list(v ORDER BY i) AS emb FROM dense GROUP BY doc_id),
         |p AS (SELECT q.doc_id AS qid, c.doc_id AS id,
         |  list_reduce(list_transform(list_zip(q.emb, c.emb),
         |    x -> (x[1] - x[2]) * (x[1] - x[2])), (a, b) -> a + b) AS distance
         | FROM e q, e c WHERE q.doc_id < 3)
         |SELECT qid, id, CAST(distance AS BIGINT) AS distance FROM p
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY distance, id) <= 5
         |ORDER BY qid, distance, id""".stripMargin,

    "dsir_weights" ->
      s"""$dsirCtes
         |SELECT doc_id, n_grams, weight_q FROM wf ORDER BY doc_id""".stripMargin,

    "dsir_select" ->
      s"""$dsirCtes
         |SELECT doc_id, weight_q,
         |  CAST(row_number() OVER (ORDER BY weight_q DESC, doc_id) AS INTEGER)
         |    AS rank
         |FROM wf
         |QUALIFY rank <= 50
         |ORDER BY rank""".stripMargin,

    // threshold select returns the IDENTICAL set and order by
    // construction (τ-filter keeps a superset of the top-n, the exact
    // trim applies the same total order) — same replay as dsir_select
    "dsir_select_threshold" ->
      s"""$dsirCtes
         |SELECT doc_id, weight_q,
         |  CAST(row_number() OVER (ORDER BY weight_q DESC, doc_id) AS INTEGER)
         |    AS rank
         |FROM wf
         |QUALIFY rank <= 50
         |ORDER BY rank""".stripMargin,

    // Gumbel top-n replay: the content-addressed uniform, two lns,
    // the temperature-scaled quantization, the score tie-break
    "dsir_resample" ->
      s"""$dsirCtes,
         |noised AS (SELECT doc_id, weight_q,
         |  weight_q + CAST(floor(2.0 * (0.0 - ln(0.0 - ln(
         |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 8)) AS BIGINT)
         |      + 0.5) / 4294967296.0)))
         |    * 1000000.0 + 0.5) AS BIGINT) AS score_q
         |  FROM wf)
         |SELECT doc_id, weight_q, score_q,
         |  CAST(row_number() OVER (ORDER BY score_q DESC, doc_id)
         |    AS INTEGER) AS rank
         |FROM noised
         |QUALIFY rank <= 50
         |ORDER BY rank""".stripMargin,

    "bm25_topk" ->
      s"""${bm25AggCtes(5)}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    // RM3 two-pass replay: seed top-3 per query, pool their postings,
    // top-5 NEW terms by pooled tf (original terms anti-joined out),
    // rescore the expanded term set with the same BM25 chain
    "bm25_rm3" ->
      s"""${bm25AggCtes(5)},
         |seed AS (SELECT qid, doc_id FROM bagg
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) <= 3),
         |pooled AS (SELECT s.qid, f.term, CAST(sum(f.tf) AS BIGINT) AS w
         |  FROM seed s JOIN btf f USING(doc_id) GROUP BY 1, 2),
         |expn AS (SELECT qid, term FROM (
         |    SELECT p.qid, p.term, p.w FROM pooled p
         |    LEFT JOIN bqt q ON q.qid = p.qid AND q.term = p.term
         |    WHERE q.term IS NULL)
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY w DESC, term) <= 5),
         |qt2 AS (SELECT qid, term FROM bqt UNION
         |  SELECT qid, term FROM expn),
         |bsc2 AS (${bm25ScoreSelectSql("qt2")}),
         |bagg2 AS (SELECT qid, doc_id,
         |  CAST(sum(s_q) AS BIGINT) AS score_q FROM bsc2 GROUP BY 1, 2)
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg2
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    "bm25_dfcap" ->
      s"""${bm25AggCtes(5, "WHERE df <= 390")}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    // the bucketed layout serves the identical ranking — same SQL
    "bm25_bucketed" ->
      s"""${bm25AggCtes(5)}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    // incremental add == scratch build on the union: same SQL
    "bm25_add" ->
      s"""${bm25AggCtes(5)}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    "bm25_remove" ->
      s"""${bm25AggCtes(5, corpusWhere = "WHERE doc_id < 250")}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    // the loaded index serves the identical ranking — same SQL
    "bm25_persist" ->
      s"""${bm25AggCtes(5)}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    // positional-intersect replay: 0-based positions via struct
    // unnest, anchor = pos − qpos, DISTINCT-offset coverage = len
    "phrase_search" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |  i -> {'pos': i - 1, 'term': toks[i]}), recursive := true) FROM tok),
         |q AS (SELECT doc_id AS qid, list_slice(toks, 1, 3) AS ph
         |  FROM tok WHERE doc_id < 3),
         |qp AS (SELECT qid, len(ph) AS len,
         |  unnest(list_transform(range(1, len(ph) + 1),
         |    i -> {'qpos': i - 1, 'term': ph[i]}), recursive := true) FROM q),
         |m AS (SELECT qp.qid, p.doc_id, p.pos - qp.qpos AS anchor, qp.len,
         |    count(DISTINCT qp.qpos) AS hit
         |  FROM qp JOIN p USING(term) GROUP BY 1, 2, 3, 4)
         |SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
         |FROM m WHERE hit = len GROUP BY 1, 2
         |ORDER BY qid, doc_id""".stripMargin,

    // the loaded positional index serves the identical phrase result
    "phrase_persist" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |  i -> {'pos': i - 1, 'term': toks[i]}), recursive := true) FROM tok),
         |q AS (SELECT doc_id AS qid, list_slice(toks, 1, 3) AS ph
         |  FROM tok WHERE doc_id < 3),
         |qp AS (SELECT qid, len(ph) AS len,
         |  unnest(list_transform(range(1, len(ph) + 1),
         |    i -> {'qpos': i - 1, 'term': ph[i]}), recursive := true) FROM q),
         |m AS (SELECT qp.qid, p.doc_id, p.pos - qp.qpos AS anchor, qp.len,
         |    count(DISTINCT qp.qpos) AS hit
         |  FROM qp JOIN p USING(term) GROUP BY 1, 2, 3, 4)
         |SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
         |FROM m WHERE hit = len GROUP BY 1, 2
         |ORDER BY qid, doc_id""".stripMargin,

    // MaxSim replay: tokenize → char-trigram grams → md5 hashing-trick
    // sparse vectors → grid-densified per-token-pair integer dots →
    // max per (qid, doc, qtok) → sum → rank. Exact end to end.
    "maxsim_exact" -> maxSimSql,

    // shortlist with m = corpus token count covers every doc: the
    // same replay over the lane's bounded 50-doc corpus (the pin's
    // heap size is m — see maxSimSqlCorpus)
    "maxsim_shortlisted" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // the saved token frame serves the identical exhaustive MaxSim
    "maxsim_persist" -> maxSimSql,

    // IVF/SQ8-backed stage 1 at probe-all + m = corpus token count:
    // candidates cover every doc and stage 2 is exact — both lanes
    // replay the bounded-corpus exhaustive MaxSim verbatim
    "maxsim_ivf" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    "maxsim_sq8" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    // residual-PQ stage 1 at probe-all + m = corpus tokens: candidates
    // cover every doc regardless of ADC ordering, stage 2 exact — the
    // same bounded-corpus exhaustive replay (and its disk-lifecycle,
    // frozen-parts add, and doc-prefix remove faces)
    "maxsim_pq" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    // split tier re-compressed (splitHotCells → compressPq), probe-all:
    // pure re-binning + exact stage-2 rescore — same exhaustive replay
    "maxsim_split_pq" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    "maxsim_pq_loaded" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    "maxsim_pq_add" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    "maxsim_pq_remove" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // PLAID prune at cap = doc count: the pruning pipeline runs but
    // keeps every doc — the same bounded-corpus exhaustive replay
    "maxsim_pruned" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // both multi-vector artifacts loaded from disk serve identically
    "maxsim_loaded" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // the grown tier (frozen-centroid TokenIvf.add) at probe-all:
    // the same bounded replay
    "maxsim_ivf_add" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // the trimmed tier (doc-level TokenIvf.remove of [50,60)) ends at
    // the 50-doc corpus exactly — the same bounded replay
    "maxsim_ivf_remove" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    // rebalance after the same takedown: probe-all is placement-
    // invariant, so the repaired tier replays the identical corpus
    "maxsim_ivf_rebalance" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    // merged shard tiers at probe-all ≡ one build over the union —
    // the same bounded-corpus exhaustive replay
    "maxsim_ivf_merge" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // add of two disjoint halves / remove of [50,60) both end at the
    // 50-doc corpus exactly — the same bounded replay
    "maxsim_add" -> maxSimSqlCorpus("WHERE doc_id < 50"),
    "maxsim_remove" -> maxSimSqlCorpus("WHERE doc_id < 50"),

    // replay of hybridSearch: the two top-10 rankers, full-outer fused
    // on (qid, id) with rrf = Σ 1/(60 + rank), re-ranked (rrf DESC, id)
    "rrf_hybrid" -> rrfHybridSql,

    // the IVF-tier composition at probe-all ⇒ exact: same replay
    "hybrid_ivf" -> rrfHybridSql,

    // both tiers loaded from disk serve the identical fusion
    "hybrid_loaded" -> rrfHybridSql,

    // lexical ⊕ late-interaction fusion: BM25 CTEs + the MaxSim
    // replay, RRF-fused — the full three-way-retrieval composition
    "hybrid_maxsim" -> hybridMaxSimSql,
    // three-way RRF: all three tiers serve exact configs, so the
    // fusion replays verbatim
    "hybrid_trio" -> hybridTrioSql,

    // bucketed-add lifecycle == scratch build on the union: the
    // bm25_add replay
    "bm25_bucketed_add" ->
      s"""${bm25AggCtes(5)}
         |SELECT qid, doc_id, score_q,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM bagg
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,

    // probe-all IVF range search == the exhaustive radius oracle
    "ivf_range_all" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored WHERE distance <= 1.8
        |ORDER BY qid, id""".stripMargin,

    "range_search_cosine" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    1.0 - list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored WHERE distance <= 0.9
        |ORDER BY qid, id""".stripMargin,

    "range_search" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    list_reduce(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS distance
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5)
        |SELECT qid, id, distance FROM scored WHERE distance <= 1.8
        |ORDER BY qid, id""".stripMargin,
  )

  /** DuckDB replay of [[piiAugmented]] (ends in columns doc_id, t). */
  private def piiAugSql: String =
    """SELECT doc_id, text || CASE
      |  WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |  WHEN doc_id % 4 = 1 THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' up'
      |  WHEN doc_id % 4 = 2 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |  ELSE '' END AS t FROM documents""".stripMargin

  /** DuckDB replay of the two exact-rank 256-bucket coordinates of
    * layout_zorder (ends in columns event_id, bu, bv). */
  private def zBucketsSql: String =
    """SELECT event_id,
      |  CAST(ntile(256) OVER (ORDER BY user_id, event_id) - 1 AS BIGINT) AS bu,
      |  CAST(ntile(256) OVER (ORDER BY value, event_id) - 1 AS BIGINT) AS bv
      | FROM events""".stripMargin

  /** The Morton interleave of [[graft.operators.Layout.interleaveBits]]
    * as portable shift/mask SQL (disjoint bit positions sum safely). */
  private def zInterleaveSql(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($a >> $i) & 1) << ${2 * i + 1})",
      s"((($b >> $i) & 1) << ${2 * i})")).mkString(" + ")

  /** Per-level CTE replay of [[graft.operators.Layout.withHilbertKey]]'s
    * xy2d state loop over the `b(event_id, bu, bv)` bucket frame —
    * level k's (hx, hy, hd) computed from level k−1's, exactly the
    * chained-projection shape the Spark side plans. */
  private def hilbertCtesSql(bits: Int): String = {
    val sb = new StringBuilder(
      "h0 AS (SELECT event_id, bu, bv, bu AS hx, bv AS hy, " +
        "CAST(0 AS BIGINT) AS hd FROM b)")
    var k = 0
    for (lvl <- (bits - 1) to 0 by -1) {
      val s = 1L << lvl
      sb.append(s""",
         |h${k + 1} AS (SELECT event_id, bu, bv,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END ELSE hx END AS hx,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END ELSE hy END AS hy,
         |  hd + ${s * s} * xor(3 * rx, ry) AS hd
         | FROM (SELECT event_id, bu, bv, hx, hy, hd,
         |   CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |   CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$k))""".stripMargin)
      k += 1
    }
    sb.toString
  }
}
