package graft

import org.apache.spark.sql.functions._

import graft.operators.LateInteraction

/** Gates for ColBERT-style MaxSim late interaction: the Spark plans
  * must reproduce a driver-side brute force on arbitrary float token
  * embeddings, the shortlist face must converge to the exact face,
  * and the exhaustive plan must keep its scale shape. */
class LateInteractionSpec extends SparkSpec {

  import spark.implicits._

  // seeded random multi-vector corpus: 40 docs × 1..6 tokens, dim 8,
  // signed float coordinates (negative dots exercised); 5 queries
  private val r = new scala.util.Random(0xC01BEE7L)
  private def vec() = Array.fill(8)((r.nextInt(21) - 10).toDouble)
  private val dTokRows = for {
    d <- 0 until 40; t <- 0 to r.nextInt(6)
  } yield (d.toLong, t.toLong, vec())
  private val qTokRows = for {
    q <- 0 until 5; t <- 0 to r.nextInt(4)
  } yield (q.toLong, t.toLong, vec())

  private lazy val dToks = dTokRows.toDF("doc_id", "tok_idx", "vec")
  private lazy val qToks = qTokRows.toDF("qid", "tok_idx", "vec")

  private def brute(k: Int): Map[Long, Seq[(Long, Long)]] = {
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def q6(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    val byDoc = dTokRows.groupBy(_._1)
    val byQ = qTokRows.groupBy(_._1)
    byQ.map { case (qid, qts) =>
      val scored = byDoc.toSeq.map { case (did, dts) =>
        did -> qts.map(qt =>
          dts.map(dt => q6(dot(dt._3, qt._3))).max).sum
      }
      qid -> scored.sortBy { case (did, s) => (-s, did) }.take(k)
    }
  }

  test("maxSim == driver brute force on seeded float token bags") {
    val got = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        dToks, "doc_id", "vec", k = 7)
      .orderBy("qid", "rank").collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.toSeq.map(row =>
        (row.getAs[Long]("doc_id"), row.getAs[Long]("score_q")))).toMap
    assert(got == brute(7))
  }

  test("maxSimShortlisted converges to maxSim; small m only removes docs") {
    val total = dTokRows.size
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(row => (row.getAs[Long]("qid"),
        row.getAs[Long]("doc_id")) -> row.getAs[Long]("score_q")).toMap
    val exact = asMap(LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
      dToks, "doc_id", "vec", k = 7))
    val full = asMap(LateInteraction.maxSimShortlisted(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", k = 7, m = total))
    assert(full == exact)
    // small m: every returned (qid, doc) is scored EXACTLY (the
    // re-rank is over true dots), so scores agree wherever present
    val small = asMap(LateInteraction.maxSimShortlisted(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", k = 7, m = 2))
    small.foreach { case (key, s) =>
      val e = asMap(LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
        dToks, "doc_id", "vec", k = 40))
      assert(e(key) == s, s"shortlisted score drifted for $key")
    }
  }

  test("repeated query tokens each contribute their own max") {
    val d = Seq((0L, 0L, Array(1.0, 0.0))).toDF("doc_id", "tok_idx", "vec")
    val q = Seq((0L, 0L, Array(2.0, 0.0)), (0L, 1L, Array(2.0, 0.0)))
      .toDF("qid", "tok_idx", "vec")
    val got = LateInteraction.maxSim(q, "qid", "tok_idx", "vec",
      d, "doc_id", "vec", k = 1).collect()
    assert(got.head.getAs[Long]("score_q") == 4000000L) // 2 × (2·1e6)
  }

  test("probe-row width: 2 floats per qvec element; an all-null qvec frame takes the nominal row, also under legacy sizeOfNull") {
    assert(LateInteraction.probeRowFloats(LateInteraction.queryStats(
      qToks.withColumnRenamed("vec", "qvec"))) == 16L)
    val nullQ = qTokRows.map { case (q, t, _) => (q, t, null: Array[Double]) }
      .toDF("qid", "tok_idx", "qvec")
    def check(): Unit = {
      assert(LateInteraction.probeRowFloats(LateInteraction.queryStats(nullQ))
        == graft.index.Batches.NominalRowFloats)
      assert(LateInteraction.maxSimShortlisted(nullQ, "qid", "tok_idx", "qvec",
        dToks, "doc_id", "vec", k = 2, m = 4).count() == 0)
    }
    check()
    val legacy = Seq("spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.sizeOfNull" -> "true")
    legacy.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      // size(null) is -1 here, not null: the width guard must still hold
      assert(nullQ.select(size(col("qvec"))).head().getInt(0) == -1)
      check()
    } finally legacy.foreach { case (key, _) => spark.conf.unset(key) }
  }

  test("saveTokens/loadTokens round-trip serves the identical MaxSim") {
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(row => (row.getAs[Long]("qid"),
        row.getAs[Long]("doc_id"), row.getAs[Long]("score_q"),
        row.getAs[Int]("rank"))).toSet
    val dir = java.nio.file.Files.createTempDirectory("toksave").toString
    LateInteraction.saveTokens(dToks, dir)
    val loaded = LateInteraction.loadTokens(spark, dir)
    // the persisted frame is canonical (doc_id, tok_idx, vec) and
    // serves with zero recompute — no embedding pass at serve time
    assert(loaded.columns.toSeq == Seq("doc_id", "tok_idx", "vec"))
    val before = asRows(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 5))
    val after = asRows(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", loaded, "doc_id", "vec", k = 5))
    assert(before == after)
  }

  private def asMapOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(row => (row.getAs[Long]("qid"),
      row.getAs[Long]("doc_id")) -> row.getAs[Long]("score_q")).toMap

  test("maxSimIvf: probe-all + m >= tokens == maxSim; probed scores exact") {
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    val full = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", idx, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(full == exact)
    // probed serving config: every returned (qid, doc) is rescored on
    // the exact token frame, so scores agree wherever present
    val all = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 40))
    val probed = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", idx, k = 7, m = 3, nprobe = 2))
    probed.foreach { case (key, s) =>
      assert(all(key) == s, s"ivf-shortlisted score drifted for $key")
    }
    idx.ivf.indexed.unpersist()
  }

  test("splitHotCells: split-cell serve == unsplit at probe-all (Zipf-skewed tokens)") {
    import spark.implicits._
    // Zipf plant: 85% of tokens sit in one tight mode → one hot cell
    val rs = new scala.util.Random(0x21BFL)
    val skewed = (for { d <- 0 until 60; t <- 0 until 4 } yield {
      val v =
        if (rs.nextInt(100) < 85) Array.fill(8)(7.0 + rs.nextDouble() * 0.3)
        else Array.fill(8)((rs.nextInt(21) - 10).toDouble)
      (d.toLong, t.toLong, v)
    }).toDF("doc_id", "tok_idx", "vec")
    val tier = LateInteraction.buildTokenIvf(skewed, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 6, numAttempts = 1,
        maxIterations = 5))
    val split = tier.splitHotCells(maxCellFactor = 1.2, iterations = 3)
    assert(split.ivf.centroids.length > tier.ivf.centroids.length,
      "the plant must trip a split")
    assert(split.maxNorm == tier.maxNorm, "MIPS bound untouched by split")
    def serveAll(t: LateInteraction.TokenIvf) =
      asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
        skewed, "doc_id", "vec", t, k = 7, m = 240,
        nprobe = t.ivf.centroids.length))
    assert(serveAll(split) == serveAll(tier))
    tier.cool(); split.cool()
  }

  test("compressed-tier skew repair = split then compress: probe-all ≡ exact for SQ8 and residual-PQ") {
    import spark.implicits._
    // same Zipf plant as the splitHotCells gate
    val rs = new scala.util.Random(0x21BFL)
    val skewed = (for { d <- 0 until 60; t <- 0 until 4 } yield {
      val v =
        if (rs.nextInt(100) < 85) Array.fill(8)(7.0 + rs.nextDouble() * 0.3)
        else Array.fill(8)((rs.nextInt(21) - 10).toDouble)
      (d.toLong, t.toLong, v)
    }).toDF("doc_id", "tok_idx", "vec")
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", skewed, "doc_id", "vec", k = 7))
    val tier = LateInteraction.buildTokenIvf(skewed, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 6, numAttempts = 1,
        maxIterations = 5))
    val split = tier.splitHotCells(maxCellFactor = 1.2, iterations = 3)
    assert(split.ivf.centroids.length > tier.ivf.centroids.length)
    // the compressed tiers' skew-repair route is split-the-float-tier →
    // re-compress (SQ8 codes are per-row so only cluster labels change;
    // residual-PQ codes re-encode against the split centroids). At
    // probe-all + m ≥ tokens, stage 2 rescores the exact token frame,
    // so both split-compressed tiers reproduce the exhaustive face.
    val np = split.ivf.centroids.length
    val sq8 = split.compress()
    assert(asMapOf(LateInteraction.maxSimSq8(qToks, "qid", "tok_idx",
      "vec", skewed, "doc_id", "vec", sq8, k = 7, m = 240,
      nprobe = np)) == exact)
    val pq = split.compressPq(graft.index.PQ.Params(m = 9, k = 16,
      iterations = 4, seed = 7L))
    assert(asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", skewed, "doc_id", "vec", pq, k = 7, m = 240,
      nprobe = np)) == exact)
    sq8.cool(); pq.cool(); tier.cool(); split.cool()
  }

  test("maxSimSq8: compressed stage 1 converges at probe-all + m >= tokens") {
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val ivf = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    val sq8 = ivf.compress()
    val full = asMapOf(LateInteraction.maxSimSq8(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", sq8, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(full == exact)
    ivf.ivf.indexed.unpersist()
  }

  test("sample-trained buildTokenIvf (trainFraction < 1) still converges at probe-all") {
    // centroid quality only shapes cells — probing semantics read the
    // assignment, so probe-all + m >= tokens is exact regardless of
    // where the centroids were trained
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5), trainFraction = 0.5)
    val full = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", idx, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(full == exact)
    // cluster sizes were recounted over the FULL frame, not the sample
    assert(idx.ivf.clusterSizes.sum == dTokRows.size.toLong)
    idx.ivf.indexed.unpersist()
  }

  test("TokenIvf save/load round-trips the serving face") {
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    val dir = java.nio.file.Files.createTempDirectory("tokivf").toString
    idx.save(dir)
    idx.ivf.indexed.unpersist()
    val loaded = LateInteraction.loadTokenIvf(spark, dir)
    assert(loaded.maxNorm == idx.maxNorm)
    val before = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", idx, k = 5, m = dTokRows.size,
      nprobe = 4))
    val after = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", loaded, k = 5, m = dTokRows.size,
      nprobe = 4))
    assert(before == after)
  }

  test("legacy sidecar (no boundFmt): slack applied once on load, exact-bound add accepted") {
    val bound = dToks.agg(max(sqrt(
      graft.functions.VectorOps.dot(col("vec"), col("vec")))))
      .head().getDouble(0)
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5), maxNormBound = bound)
    val dir = java.nio.file.Files.createTempDirectory("tokivflegacy").toString
    idx.save(dir)
    // rewrite the sidecar as a pre-r14 explicit-bound artifact: the
    // UNinflated bound, no boundFmt marker
    graft.index.ParamsIO.write(spark, dir, s"""{"maxNorm":$bound}""")
    val loaded = LateInteraction.loadTokenIvf(spark, dir)
    // load applied the (1+1e-7) slack ONCE — the bound now matches what
    // a boundFmt=2 save would have stored
    assert(math.abs(loaded.maxNorm - bound * (1.0 + 1e-7)) < 1e-9)
    // a batch whose max norm lands one float-rounding ulp ABOVE the
    // legacy bound (the spurious-refusal case the migration closes) is
    // accepted against the migrated bound
    val ulpToks = Seq((99L, 0L, Array.fill(8)(
      bound * (1.0 + 5e-8) / math.sqrt(8.0))))
      .toDF("doc_id", "tok_idx", "vec")
    val added = loaded.add(ulpToks, "doc_id", "tok_idx", "vec")
    // clusterSizes stay frozen on add; the indexed frame grows by one
    assert(added.ivf.indexed.count() == loaded.ivf.indexed.count() + 1)
    // genuinely over-bound batches still refuse loudly
    val over = Seq((98L, 0L, Array.fill(8)(bound))).toDF(
      "doc_id", "tok_idx", "vec")
    val e = intercept[IllegalArgumentException] {
      loaded.add(over, "doc_id", "tok_idx", "vec")
    }
    assert(e.getMessage.contains("MIPS bound"))
  }

  test("TokenIvf.add: frozen-centroid ingest converges at probe-all; over-norm refused") {
    val a = dToks.filter(col("doc_id") < 20)
    val b = dToks.filter(col("doc_id") >= 20)
    // build with the FULL corpus's norm ceiling so the second half
    // fits the MIPS bound (production: 1.0 for normalized tokens)
    val bound = dToks.agg(max(sqrt(
      graft.functions.VectorOps.dot(col("vec"), col("vec")))))
      .head().getDouble(0)
    val idx = LateInteraction.buildTokenIvf(a, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5), maxNormBound = bound)
    val grown = idx.add(b, "doc_id", "tok_idx", "vec")
    // added rows assign to the FROZEN centroids — probe-all + m >=
    // tokens still covers everything, so the grown tier is exact
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val got = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", grown, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(got == exact)
    // an incoming batch above the MIPS bound is refused, not clamped
    val big = Seq((99L, 0L, Array.fill(8)(1000.0)))
      .toDF("doc_id", "tok_idx", "vec")
    assertThrows[IllegalArgumentException] {
      grown.add(big, "doc_id", "tok_idx", "vec")
    }
    // so is a build whose frame already exceeds a given bound
    assertThrows[IllegalArgumentException] {
      LateInteraction.buildTokenIvf(big, "doc_id", "tok_idx", "vec",
        graft.index.IVFFlat.Params(k = 1, numAttempts = 1,
          maxIterations = 1), maxNormBound = 1.0)
    }
    idx.ivf.indexed.unpersist()
  }

  test("addTokens/removeTokens compose to the direct corpus") {
    val a = dToks.filter(col("doc_id") < 20)
    val b = dToks.filter(col("doc_id") >= 20)
    val direct = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val added = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", LateInteraction.addTokens(a, b), "doc_id", "vec", k = 7))
    assert(added == direct)
    val ids = (20L until 40L).toDF("doc_id")
    val removed = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", LateInteraction.removeTokens(dToks, ids, "doc_id"),
      "doc_id", "vec", k = 7))
    val directA = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", a, "doc_id", "vec", k = 7))
    assert(removed == directA)
  }

  test("PLAID cap: cap >= docs == unpruned face; tight cap subsets with exact scores") {
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    val unpruned = asMapOf(LateInteraction.maxSimIvf(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", idx, k = 7,
      m = dTokRows.size, nprobe = 4))
    // cap >= the doc count keeps every candidate: the pruning pipeline
    // runs (finite cap) but removes nothing — identical result
    val kept = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", idx, k = 7, m = dTokRows.size,
      nprobe = 4, cap = 40))
    assert(kept == unpruned)
    // tight cap: at most cap docs per query survive to stage 2, and
    // every survivor is rescored EXACTLY (scores match the exhaustive
    // face wherever present) — cap only removes docs, never mis-scores
    val all = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 40))
    val tight = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", idx, k = 7, m = dTokRows.size,
      nprobe = 4, cap = 3))
    tight.keys.groupBy(_._1).foreach { case (qid, keys) =>
      assert(keys.size <= 3, s"qid=$qid kept ${keys.size} docs past cap=3")
    }
    tight.foreach { case (key, s) =>
      assert(all(key) == s, s"pruned score drifted for $key")
    }
    // the SQ8 face takes the same lever
    val sq8 = idx.compress()
    val keptSq8 = asMapOf(LateInteraction.maxSimSq8(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", sq8, k = 7,
      m = dTokRows.size, nprobe = 4, cap = 40))
    assert(keptSq8 == unpruned)
    // and the non-ANN shortlist face (prunes from the heap's own dots)
    val keptSl = asMapOf(LateInteraction.maxSimShortlisted(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", k = 7,
      m = dTokRows.size, cap = 40))
    assert(keptSl == unpruned)
    val tightSl = asMapOf(LateInteraction.maxSimShortlisted(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", k = 7,
      m = dTokRows.size, cap = 3))
    tightSl.keys.groupBy(_._1).foreach { case (qid, keys) =>
      assert(keys.size <= 3, s"qid=$qid kept ${keys.size} docs past cap=3")
    }
    tightSl.foreach { case (key, s) =>
      assert(all(key) == s, s"shortlist-pruned score drifted for $key")
    }
    idx.ivf.indexed.unpersist()
  }

  test("maxSimPq: residual-ADC stage 1 converges at probe-all + m >= tokens; probed scores exact") {
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val ivf = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    // augmented dim = 8 + 1 = 9 → m = 9 divides it exactly (no pad)
    val pq = ivf.compressPq(graft.index.PQ.Params(m = 9, k = 16,
      iterations = 4, seed = 7L))
    // probe-all + m >= corpus tokens keeps every probed token in every
    // heap regardless of ADC ordering — candidates cover all docs and
    // stage 2 is the exhaustive face
    val full = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", pq, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(full == exact)
    // probed serving config: stage 2 rescores on the exact token frame,
    // so every returned (qid, doc) score matches the exhaustive face —
    // ADC error can only REMOVE docs, never mis-score them
    val all = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 40))
    val probed = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", pq, k = 7, m = 3, nprobe = 2))
    assert(probed.nonEmpty)
    probed.foreach { case (key, s) =>
      assert(all(key) == s, s"pq-shortlisted score drifted for $key")
    }
    // finite cap runs the PLAID prune over recovered ADC dots — still
    // a pruning rank only; survivors keep exact scores
    val capped = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", pq, k = 7, m = dTokRows.size,
      nprobe = 4, cap = 40))
    assert(capped == exact)
    // m = 4 does NOT divide the augmented dim 9: compressPq zero-pads
    // the frame to 12 (dsub 3) and maxSimPq pads queries to match —
    // the padding is exact, so the degenerate config still converges
    val pq4 = ivf.compressPq(graft.index.PQ.Params(m = 4, k = 16,
      iterations = 4, seed = 7L))
    assert(pq4.pq.dim == 12)
    val full4 = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", pq4, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(full4 == exact)
    ivf.ivf.indexed.unpersist()
  }

  test("TokenPq save/load round-trips the residual-code serving face") {
    val ivf = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    val pq = ivf.compressPq(graft.index.PQ.Params(m = 9, k = 16,
      iterations = 4, seed = 7L))
    val dir = java.nio.file.Files.createTempDirectory("tokpq").toString
    pq.save(dir)
    ivf.ivf.indexed.unpersist()
    val loaded = LateInteraction.loadTokenPq(spark, dir)
    assert(loaded.maxNorm == pq.maxNorm)
    assert(loaded.pq.residual == pq.pq.residual)
    val before = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", pq, k = 5, m = dTokRows.size,
      nprobe = 4))
    val after = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", loaded, k = 5, m = dTokRows.size,
      nprobe = 4))
    assert(before == after)
  }

  test("sampled codebook training (codebookTrainFraction < 1) still converges at probe-all") {
    // codebook quality only shapes ADC ordering — at probe-all + m >=
    // tokens the candidate set is every doc regardless, and stage 2 is
    // exact, so a sample-trained codebook tier is still exact there
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val ivf = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5))
    val pq = ivf.compressPq(graft.index.PQ.Params(m = 9, k = 16,
      iterations = 4, seed = 7L), codebookTrainFraction = 0.5)
    val full = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", pq, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(full == exact)
    // every token row still ENCODED (the narrow fused pass runs over
    // the full frame, only Lloyd's trained on the sample)
    assert(pq.pq.codes.count() == dTokRows.size.toLong)
    ivf.ivf.indexed.unpersist()
  }

  test("TokenPq.add/remove: frozen-parts lifecycle converges at probe-all") {
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val a = dToks.filter(col("doc_id") < 20)
    val b = dToks.filter(col("doc_id") >= 20)
    val bound = dToks.agg(max(sqrt(
      graft.functions.VectorOps.dot(col("vec"), col("vec")))))
      .head().getDouble(0)
    val ivf = LateInteraction.buildTokenIvf(a, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 5), maxNormBound = bound)
    // m = 4 pads the augmented dim 9 -> 12; arriving rows must pad the
    // same way inside add (the encode would misindex otherwise)
    val half = ivf.compressPq(graft.index.PQ.Params(m = 4, k = 16,
      iterations = 4, seed = 7L))
    val grown = half.add(b, "doc_id", "tok_idx", "vec")
    assert(grown.pq.codes.count() == dTokRows.size.toLong)
    val got = asMapOf(LateInteraction.maxSimPq(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", grown, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(got == exact)
    // over-norm batches refused unless trusted
    val big = Seq((99L, 0L, Array.fill(8)(1000.0)))
      .toDF("doc_id", "tok_idx", "vec")
    assertThrows[IllegalArgumentException] {
      grown.add(big, "doc_id", "tok_idx", "vec")
    }
    // remove: a document's codes leave by the unpacked prefix; the
    // trimmed tier serves the kept corpus exactly at probe-all
    val trimmed = grown.remove((20L until 40L).toDF("doc_id"), "doc_id")
    val keptExact = asMapOf(LateInteraction.maxSim(qToks, "qid",
      "tok_idx", "vec", a, "doc_id", "vec", k = 7))
    val keptGot = asMapOf(LateInteraction.maxSimPq(qToks, "qid",
      "tok_idx", "vec", a, "doc_id", "vec", trimmed, k = 7,
      m = dTokRows.size, nprobe = 4))
    assert(keptGot == keptExact)
    ivf.ivf.indexed.unpersist()
  }

  test("TokenIvf.rebalance: post-takedown sizes recount; probe-all stays exact; fixed-nprobe serve covers >= the stale tier") {
    // remove 30% of docs (doc_id >= 28), then repair: rebalance must
    // (a) recount cell sizes to the SURVIVING population — the stale
    // tier's frozen sizes overestimate, which narrows adaptive
    // probing (remove's documented drift) — and (b) stay exact at
    // probe-all (probe placement is irrelevant when every cell is
    // scanned)
    val kept = dToks.filter(col("doc_id") < 28)
    val keptRows = dTokRows.count(_._1 < 28)
    val stale = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
        "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
          maxIterations = 5))
      .remove(dToks.filter(col("doc_id") >= 28).select(col("doc_id"))
        .distinct(), "doc_id")
    assert(stale.ivf.clusterSizes.sum == dTokRows.size.toLong,
      "precondition: remove leaves sizes frozen at the pre-takedown count")
    val repaired = stale.rebalance(iterations = 2)
    assert(repaired.maxNorm == stale.maxNorm,
      "rebalance must not touch the MIPS bound")
    assert(repaired.ivf.clusterSizes.sum == keptRows.toLong)
    val actual = repaired.ivf.indexed.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    repaired.ivf.clusterSizes.zipWithIndex.foreach { case (sz, c) =>
      assert(sz == actual.getOrElse(c, 0L), s"cell $c size drifted")
    }
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", kept, "doc_id", "vec", k = 7))
    val got = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", kept, "doc_id", "vec", repaired, k = 7, m = dTokRows.size,
      nprobe = 4))
    assert(got == exact)
    // the drift remove documents, pinned deterministically: with the
    // SAME centroids, frozen (overestimated) sizes make adaptive
    // probing reach its cumulative-k coverage sooner, so its probe
    // set is a PREFIX of the true-sizes probe set — the narrowing a
    // rebalance (which recounts sizes) repairs
    val trueSizes = {
      val m = stale.ivf.indexed.groupBy("cluster").count().collect()
        .map(rr => rr.getInt(0) -> rr.getLong(1)).toMap
      Array.tabulate(stale.ivf.params.k)(c => m.getOrElse(c, 0L))
    }
    qTokRows.take(5).foreach { case (_, _, v) =>
      val q = v.map(_.toFloat) :+ 0f // augmented-frame query, [q, 0]
      val narrow = graft.index.IVFFlat.probeOrder(stale.ivf.centroids,
        stale.ivf.clusterSizes, q, 7, 1)
      val wide = graft.index.IVFFlat.probeOrder(stale.ivf.centroids,
        trueSizes, q, 7, 1)
      assert(narrow.length <= wide.length,
        "overestimated sizes must never probe MORE cells")
      assert(wide.take(narrow.length) == narrow,
        "probe widening must keep the distance-order prefix")
    }
    Seq(stale, repaired).foreach(_.ivf.indexed.unpersist())
  }

  test("TokenIvf.merge: two half-corpus tiers == one build; differing maxNorms re-augment") {
    val exact = asMapOf(LateInteraction.maxSim(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", k = 7))
    val a = dToks.filter(col("doc_id") < 20)
    val b = dToks.filter(col("doc_id") >= 20)
    val params = graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
      maxIterations = 5)
    // no explicit bound: each half derives ITS OWN maxNorm — the halves
    // differ, so the merge exercises the re-augmentation path
    val ia = LateInteraction.buildTokenIvf(a, "doc_id", "tok_idx", "vec",
      params)
    val ib = LateInteraction.buildTokenIvf(b, "doc_id", "tok_idx", "vec",
      params)
    assert(ia.maxNorm != ib.maxNorm,
      "seeded halves should carry different natural MIPS bounds")
    val merged = ia.merge(ib)
    assert(merged.maxNorm == math.max(ia.maxNorm, ib.maxNorm))
    assert(merged.ivf.indexed.count() == dTokRows.size.toLong)
    val got = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", merged, k = 7, m = dTokRows.size,
      nprobe = merged.ivf.params.k))
    assert(got == exact)
    // equal-bound merge: build both halves under ONE shared bound —
    // IVFFlat.merge path (no re-augmentation), same convergence
    val bound = math.max(ia.maxNorm, ib.maxNorm)
    val ja = LateInteraction.buildTokenIvf(a, "doc_id", "tok_idx", "vec",
      params, maxNormBound = bound)
    val jb = LateInteraction.buildTokenIvf(b, "doc_id", "tok_idx", "vec",
      params, maxNormBound = bound)
    val merged2 = ja.merge(jb)
    // the stored bound carries the (1+1e-7) float-rounding slack baked
    // in at build time (the Mips.maxNorm discipline) — both halves
    // store the SAME inflated value, so the equal-bound merge path
    // (no re-augmentation) still applies
    assert(merged2.maxNorm == bound * (1.0 + 1e-7))
    val got2 = asMapOf(LateInteraction.maxSimIvf(qToks, "qid", "tok_idx",
      "vec", dToks, "doc_id", "vec", merged2, k = 7, m = dTokRows.size,
      nprobe = merged2.ivf.params.k))
    assert(got2 == exact)
    Seq(ia, ib, ja, jb).foreach(_.ivf.indexed.unpersist())
  }

  test("stage-2 qChunk: chunked probe identical to unchunked on a 1k-query batch") {
    // the broadcast-budget enforcement (rescoreCandidates qChunk):
    // qid groups partition the batch, per-chunk top-k is final, so
    // chunking must be result-invariant at ANY chunk size
    val bigQRows = (0 until 1000).flatMap { q =>
      (0 to q % 3).map(t => (q.toLong, t.toLong, vec()))
    }
    val bigQ = bigQRows.toDF("qid", "tok_idx", "vec")
      .localCheckpoint(true)
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(row => (row.getAs[Long]("qid"),
        row.getAs[Long]("doc_id"), row.getAs[Long]("score_q"),
        row.getAs[Int]("rank"))).toSet
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 3))
    val unchunked = asRows(LateInteraction.maxSimIvf(bigQ, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", idx, k = 3, m = 5,
      nprobe = 2, qChunk = 1000000))
    val chunked = asRows(LateInteraction.maxSimIvf(bigQ, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", idx, k = 3, m = 5,
      nprobe = 2, qChunk = 128))
    assert(chunked == unchunked)
    // the non-ANN shortlist face takes the same lever (tiny chunks on
    // the 5-query batch: 3 chunks, same result)
    val exact = asRows(LateInteraction.maxSimShortlisted(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", k = 7, m = dTokRows.size))
    val tiny = asRows(LateInteraction.maxSimShortlisted(qToks, "qid",
      "tok_idx", "vec", dToks, "doc_id", "vec", k = 7, m = dTokRows.size,
      qChunk = 2))
    assert(tiny == exact)
    idx.ivf.indexed.unpersist()
  }

  test("maxSimIvf plans: stage-1 TopKAggExpr heap; stage-2 partial max behind a pushed candidate filter") {
    val idx = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
        maxIterations = 3))
    // stage 1 IS the tier's searchMany: the per-query top-m cut
    // partial-aggregates map-side — only m-bounded heap rows cross its
    // exchange, never the probed-candidate volume (the candidate frame
    // is checkpointed before stage 2, so this gate reads searchMany's
    // own plan; vec dim = 8 + the MIPS augmentation coordinate)
    val probeQ = Seq((1L, Array.fill(9)(0f))).toDF("qid2", "qvec2")
    val hits = idx.ivf.searchMany(probeQ, "qid2", "qvec2", 8, 2)
    hits.collect()
    assert(hits.queryExecution.executedPlan.toString.toLowerCase
      .contains("partial_topkaggexpr"))
    // serve from the SAVED doc-clustered layout: the pushdown is a
    // plan-visible property only on a real scan (a LocalRelation folds
    // the In filter away at optimization time)
    val dir = java.nio.file.Files.createTempDirectory("maxsimpush").toString
    LateInteraction.saveTokens(dToks, dir)
    val dPq = LateInteraction.loadTokens(spark, dir)
    val df = LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
      dPq, "doc_id", "vec", idx, k = 5, m = 8, nprobe = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    // stage 2: the per-pair max partial-aggregates map-side (the
    // maxsim_exact discipline) — no exchange carries raw pair scores
    assert(p.contains("partial_max"), p.take(1200))
    // and the serving-sized candidate set reaches the token-frame
    // parquet reader as a pushed In(doc_id, …) — row groups holding
    // no candidate doc are skipped on the doc-clustered save layout
    assert(p.contains("pushedfilters: [in(doc_id"), p.take(2000))
    idx.ivf.indexed.unpersist()
  }

  test("exhaustive plan: q tokens broadcast, corpus never shuffles pair rows") {
    val df = LateInteraction.maxSim(qToks, "qid", "tok_idx", "vec",
      dToks, "doc_id", "vec", k = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the pair volume collapses through a map-side partial max before
    // any exchange: no shuffle may carry the raw per-pair score s_q
    assert(p.contains("partial_max") || p.contains("partial_max("),
      "per-pair max must partial-aggregate map-side:\n" + p.take(1200))
  }
}
