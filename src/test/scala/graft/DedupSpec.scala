package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextHashFast, TextOps}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet").cache()

  test("filled pair generators: two runs of a lane launch the same jobs") {
    // the fingerprint / band frame fills before the checkpointed
    // self-join fans it out, so concurrent branch jobs never race on an
    // unfilled cache and the job count is the same run after run (a
    // first, uncounted run pays the one-time input-table read)
    // pipeline_dedup and knn_graph_clusters end in Dedup.components,
    // whose driver finish replaced the propagation rounds that made
    // their job counts vary
    for (lane <- Seq("dedup_simhash", "dedup_minhash", "dedup_prefix_keepfirst",
        "dedup_jaccard", "dedup_containment", "dedup_embed_lsh", "dedup_spans",
        "pipeline_dedup", "knn_graph_clusters")) {
      def run(): Unit = SparkEntry.queries(lane)(spark, sf0001).count(): Unit
      run()
      val runs = Seq.fill(2)(jobsOf(run()))
      assert(runs.distinct.size == 1, s"$lane jobs per run: $runs")
    }
  }

  test("fast-path minhash signature equals the Column/SQL pipeline") {
    val viaColumn = docs
      .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", TextOps.minhashPairs(col("sh")))
      .select(col("doc_id") +:
        (0 until 12).map(i => TextOps.minhashFromPairs(col("hs"), i).as(s"mh_$i")): _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to 12).map(r.getLong(_)).toSeq).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .foreach { case (id, text) =>
        val sh = TextHashFast.shingles3(TextHashFast.tokenize(text))
        if (sh.nonEmpty) {
          val sig = TextHashFast.minhashSig(md, sh, 12).toSeq
          assert(sig == viaColumn(id), s"doc $id")
        } else assert(!viaColumn.contains(id))
      }
  }

  test("fast-path simhash equals the Column pipeline") {
    val viaColumn = docs
      .select(col("doc_id"), TextOps.simhash16(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .foreach { case (id, text) =>
        assert(TextHashFast.simhash16(md, TextHashFast.tokenize(text)) == viaColumn(id),
          s"doc $id")
      }
  }

  test("fast-path simhash64 equals the Column pipeline") {
    val viaColumn = docs
      .select(col("doc_id"), TextOps.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .foreach { case (id, text) =>
        assert(TextHashFast.simhash64(md, TextHashFast.tokenize(text)) == viaColumn(id),
          s"doc $id")
      }
  }

  test("simhash64 pairs: planted dup at hamming 0; radius widens monotonically") {
    val dup = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(77777L))
    val withDup = docs.unionByName(dup)
    val h0 = Dedup.simhashPairs(withDup, "doc_id", "text",
      maxHamming = 0, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h0.contains((0L, 77777L)))
    val h3 = Dedup.simhashPairs(withDup, "doc_id", "text",
      maxHamming = 3, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h0.subsetOf(h3))
  }

  test("bandSize S-curve: exact dups pair at every r; larger r only sheds pairs") {
    val dup = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(55555L))
    val withDup = docs.unionByName(dup)
    def pairsAt(r: Int): Set[(Long, Long)] =
      Dedup.minhashBandPairs(withDup, "doc_id", "text",
          numHashes = 12, bandSize = r)
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val p2 = pairsAt(2); val p3 = pairsAt(3); val p4 = pairsAt(4)
    // identical docs share every row-minimum → every band at any r
    assert(Seq(p2, p3, p4).forall(_.contains((0L, 55555L))))
    // an r-band collision (all r minima equal) implies... nothing
    // band-for-band across layouts, but the S-curve direction must
    // hold in aggregate on real text: stricter bands, fewer-or-equal
    // candidate pairs (deterministic corpus, deterministic counts)
    assert(p3.size <= p2.size, s"r=3 ${p3.size} > r=2 ${p2.size}")
    assert(p4.size <= p3.size, s"r=4 ${p4.size} > r=3 ${p3.size}")
    // and the streaming admission filter inherits r: its batch face
    // must keep strictly more docs under the stricter banding
    val kept3 = Dedup.prefixKeepFirst(withDup, "doc_id", "text",
      numHashes = 12, bandSize = 3).count()
    val kept2 = Dedup.prefixKeepFirst(withDup, "doc_id", "text",
      numHashes = 12, bandSize = 2).count()
    assert(kept3 >= kept2)
  }

  test("planted duplicate is caught by all three near-dup detectors") {
    val dup = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(99999L))
    val withDup = docs.unionByName(dup)
    val mh = Dedup.minhashBandPairs(withDup, "doc_id", "text")
      .filter(col("doc_a") === 0 && col("doc_b") === 99999).collect()
    assert(mh.length == 1 && mh(0).getLong(2) == 6L) // all 6 bands agree
    val jc = Dedup.jaccardPairs(withDup, "doc_id", "text", threshold = 0.9)
      .filter(col("doc_a") === 0 && col("doc_b") === 99999).collect()
    assert(jc.length == 1 && jc(0).getDouble(2) == 1.0)
    val sh = Dedup.simhashPairs(withDup, "doc_id", "text", maxHamming = 0)
      .filter(col("doc_a") === 0 && col("doc_b") === 99999).collect()
    assert(sh.length == 1 && sh(0).getInt(2) == 0)
  }

  test("jaccard dfCap: uncapped == huge cap; hot shingles stop pairing under a small cap") {
    // a cap no shingle exceeds changes nothing
    val base = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.2,
        dfCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == base)
    // 10 docs share ONE hot shingle and are otherwise disjoint: uncapped
    // pairs all 45 combinations through the hot posting list; dfCap < 10
    // blacklists it and the fanout drops to zero
    val hotDocs = (0 until 10)
      .map(i => (i.toLong, s"common hot shingle unique$i distinct$i tail$i"))
      .toDF("doc_id", "text")
    val un = Dedup.jaccardPairs(hotDocs, "doc_id", "text", threshold = 0.0)
    assert(un.count() == 45)
    val cp = Dedup.jaccardPairs(hotDocs, "doc_id", "text", threshold = 0.0,
      dfCap = 5)
    assert(cp.count() == 0)
  }

  test("chunkTokens: overlap, short tail, single-chunk doc, empty doc") {
    val rows = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, size 4 stride 3
      (1L, "a b"),                                    // single short chunk
      (2L, "   "))                                    // empty after tokenize
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextOps.chunkTokens(col("text"), 4, 3).as("chunks"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[String]](1).toSeq).toMap
    // starts 0,3,6,9 → overlap of 1 token between neighbours, tail short
    assert(rows(0L) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(rows(1L) == Seq("a b"))
    assert(rows(2L) == Seq("")) // callers filter the empty-doc chunk
  }

  test("normalized exact dedup collapses case/punctuation/spacing variants") {
    val corpus = Seq(
      (0L, "The quick Brown Fox!"),
      (1L, "the   quick brown fox"),  // same after normalization
      (2L, "THE QUICK, BROWN... FOX"),
      (3L, "a different document"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactKeepFirst(
        corpus.withColumn("norm", TextOps.normalizeText(col("text"))),
        "doc_id", Seq("norm"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L))
    // plain exact dedup keeps all four — normalization is what collapses
    val plain = Dedup.exactKeepFirst(corpus, "doc_id", Seq("text"))
      .collect().length
    assert(plain == 4)
  }

  test("containment catches a planted partial copy that Jaccard misses") {
    // B = the first 12 tokens of A: every B-shingle is in A, so
    // containment(B→A) = 1.0 while Jaccard = 10/28 ≈ 0.36
    val aTokens = (0 until 30).map(i => s"tok$i")
    val corpus = Seq(
      (0L, aTokens.mkString(" ")),
      (1L, aTokens.take(12).mkString(" ")),
      (2L, (100 until 130).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text",
      threshold = 0.9).collect()
    assert(cont.length == 1)
    assert(cont(0).getLong(0) == 0L && cont(0).getLong(1) == 1L)
    assert(cont(0).getDouble(2) == 1.0)
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text",
      threshold = 0.5).collect()
    assert(jac.isEmpty, "symmetric Jaccard must miss the partial copy")
  }

  /** The (id, comp) rows as a map, after checking that no id repeats
    * (a map alone would hide a duplicate row). */
  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    val m = rows.toMap
    assert(rows.length == m.size, s"${rows.length} rows for ${m.size} ids")
    m
  }

  test("components: chains collapse to min id; keep-first drops exactly the losers") {
    // 1-2-3-4 is a 3-hop chain (forces multi-round propagation, given
    // in reversed edge order), 10-11 a pair, 20-21-22 a triangle-free vee
    val pairs = Seq((3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("a", "b")
    val docs = (1L to 25L).toDF("id")
    for ((path, (got, kept)) <- onBothPaths {
        (labels(Dedup.components(pairs, "a", "b")),
          Dedup.keepFirstByPairs(docs, "id", pairs, "a", "b")
            .collect().map(_.getLong(0)).toSet)
      }) {
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), path)
      // survivors: component minima (1, 10, 20) plus every unpaired id
      assert(kept == (1L to 25L).toSet -- Set(2L, 3L, 4L, 11L, 21L, 22L), path)
    }
  }

  test("components: a null endpoint joins nothing, its partner and a self-loop stay singletons") {
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)),
      (Some(7L), Some(7L)), (None, None)).toDF("a", "b")
    for ((path, got) <- onBothPaths(labels(Dedup.components(pairs, "a", "b"))))
      assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L), path)
  }

  test("components property: driver finish == loop == plain union-find on seeded graphs") {
    // plain-Scala reference: union-find over a boxed map, min id as root
    def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    def graph(seed: Int): Seq[(Long, Long)] = {
      val r = new scala.util.Random(seed)
      val base = r.nextInt(2000) - 1000L
      def id(span: Int) = base + r.nextInt(span)
      val parts = Seq.fill(1 + r.nextInt(4))(r.nextInt(5) match {
        case 0 => // a reversed chain: one hop per round without halving
          val o = id(200)
          (1 + r.nextInt(40) to 1 by -1).map(i => (o + i, o + i - 1))
        case 1 => // a star around one hub
          val hub = id(200)
          Seq.fill(1 + r.nextInt(10))(hub -> id(200))
        case 2 => // random pairs, some repeated and some reversed
          val ps = Seq.fill(r.nextInt(15))((id(60), id(60)))
          ps ++ ps.take(3) ++ ps.take(3).map(_.swap)
        case 3 => Seq.fill(1 + r.nextInt(3)) { val a = id(200); (a, a) }
        case _ => // isolated pairs, apart from everything else
          Seq.fill(1 + r.nextInt(3)) { val a = id(500) + 3000; (a, a + 1000) }
      }).flatten
      r.shuffle(parts)
    }
    for (seed <- 1 to 50) {
      val g = graph(seed)
      val pairs = g.toDF("a", "b")
      val want = reference(g)
      for ((path, got) <- onBothPaths(labels(Dedup.components(pairs, "a", "b"))))
        assert(got == want, s"seed $seed, $path path, pairs $g")
    }
  }

  test("components: a raised broadcast budget still takes the loop above the driver cap") {
    val cap = Dedup.maxDriverPairs
    val gb = 1L << 30
    assert(Dedup.finishesOnDriver(cap, gb))
    assert(!Dedup.finishesOnDriver(cap + 1, gb))
    assert(Dedup.finishesOnDriver(655360L, 10L << 20))
    assert(!Dedup.finishesOnDriver(655361L, 10L << 20))
    assert(!Dedup.finishesOnDriver(1L, -1L))
    assert(Dedup.finishesOnDriver(0L, 0L))
  }

  test("components on a small graph launches at most 2 jobs") {
    val pairs = Seq((3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L)).toDF("a", "b")
    val jobs = jobsOf(Dedup.components(pairs, "a", "b").collect(): Unit)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("loop-path components keeps only the returned round state resident") {
    val pairs = (0 until 299).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    withBudget("-1") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val comps = Dedup.components(pairs, "a", "b")
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size == 1, s"persistent RDDs added: $added")
      assert(comps.count() == 300)
    }
  }

  test("embeddingPairs finds planted near-identical vector and nothing closer") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val near = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(88888L))
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(1e-4f)))
    val pairs = Dedup.embeddingPairs(emb.unionByName(near), "vec_id", "embedding",
      maxCosDist = 0.01)
    val hits = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.contains((0L, 88888L)))
  }

  test("winnowPairs: guarantee pairs boundary-free near-copies; disjoint text never pairs") {
    import spark.implicits._
    // boundary-free "scripts": no whitespace at all — word-shingles see
    // one token and can't pair these; char-gram winnowing must
    val a = "abcdefghijklmnopqrstuvwxyz0123456789abcdefghij"
    val b = a.dropRight(3) + "xyz" // long shared prefix >> k+w-1 = 8
    val c = "zyxwvutsrqponmlkjihgfedcba9876543210zyxwvutsrq"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // and the sampling pitch holds: fps per doc << distinct grams per doc
    val nFps = docs.select(size(graft.operators.TextOps.winnow(col("text"))))
      .collect().map(_.getInt(0))
    assert(nFps.forall(n => n > 0 && n < a.length - 4))
  }

  test("winnowPostings JVM kernel equals the Column winnow pipeline") {
    import spark.implicits._
    // real corpus text + crafted edges: shorter than k, exactly k,
    // between k and k+w-1 grams, whitespace-free, non-ASCII
    val edges = Seq((90001L, "abc"), (90002L, "abcde"), (90003L, "abcdefg"),
      (90004L, ""), (90005L, "ñandú-àéîõü-日本語テキスト-çğş"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").limit(120).unionByName(edges)
    val fast = Dedup.winnowPostings(docs, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    val column = docs
      .select($"doc_id".cast("long").as("id"),
        graft.operators.TextOps.charGramHashes($"text", 5).as("h"))
      .select($"id",
        explode(graft.operators.TextOps.winnowOfGrams($"h", 4)).as("sh"))
      .as[(Long, String)].collect().toSet
    assert(fast == column)
    assert(fast.nonEmpty)
  }

  test("vecKey keys on raw float bits: ±0.0 and NaN payloads stay distinct") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.{FloatBitsExpr, VectorOps}

    // expression level (Spark's row writers canonicalize NaN on store,
    // so payload distinction is only observable pre-storage — exactly
    // where the reference's to_hashkey runs, base.rs:113-117)
    def bitsOf(fs: Array[Float]): Seq[Int] = {
      val arr = FloatBitsExpr(Literal(
        new GenericArrayData(fs.map(x => x: Any)), ArrayType(FloatType)))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      arr.toIntArray().toSeq
    }
    val payloadNaN = java.lang.Float.intBitsToFloat(0x7fc00001)
    assert(bitsOf(Array(payloadNaN)) != bitsOf(Array(Float.NaN)))
    assert(bitsOf(Array(0.0f)) == Seq(0))
    assert(bitsOf(Array(-0.0f)) == Seq(Int.MinValue)) // sign bit only
    assert(bitsOf(Array(1.5f, -2.25f)) ==
      Seq(java.lang.Float.floatToRawIntBits(1.5f),
        java.lang.Float.floatToRawIntBits(-2.25f)))

    // column level: ±0.0 key differently; bit-equal vectors key equal
    val df = Seq((1L, Array(0.0f)), (2L, Array(-0.0f)), (3L, Array(0.0f)))
      .toDF("id", "v")
    val keys = df.select(col("id"), VectorOps.vecKey(col("v")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keys(1L) == keys(3L))
    assert(keys(1L) != keys(2L))

    // property: key equality ⟺ bit equality on random vectors
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(64)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val kmap = vecs.toDF("id", "v")
      .select(col("id"), VectorOps.vecKey(col("v")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((ia, va) <- vecs; (ib, vb) <- vecs) {
      val bitEq = va.map(java.lang.Float.floatToRawIntBits).toSeq ==
        vb.map(java.lang.Float.floatToRawIntBits).toSeq
      assert((kmap(ia) == kmap(ib)) == bitEq,
        s"vecKey equality must track bit equality for ($ia, $ib)")
    }
  }

  test("repeatedSpans finds exactly the shared boilerplate; scrub removes it") {
    import spark.implicits._
    val boiler = (1 to 6).map(i => s"B$i").mkString(" ")
    def prose(p: String) = (0 until 10).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (0L, s"${prose("u")} $boiler ${prose("v")}"),
      (1L, s"${prose("w")} $boiler ${prose("x")}"),
      (2L, (0 until 26).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = graft.operators.Dedup
      .repeatedSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only grams FULLY inside the boilerplate are shared (context
    // tokens differ), so the merged run covers exactly tokens 10..15
    assert(spans.toSeq == Seq((0L, 10L, 15L, 2L), (1L, 10L, 15L, 2L)))
    val scrubbed = graft.operators.Dedup
      .scrubRepeatedSpans(docs, "doc_id", "text",
        graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text", n = 5))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(scrubbed(0) == ((0L, s"${prose("u")} ${prose("v")}", 20L)))
    assert(scrubbed(1) == ((1L, s"${prose("w")} ${prose("x")}", 20L)))
    assert(scrubbed(2)._2 == (0 until 26).map(i => s"y$i").mkString(" ")
      && scrubbed(2)._3 == 26L)
  }

  test("cdcChunks realigns after a head insertion; fixed windows do not") {
    import spark.implicits._
    import graft.operators.TextOps
    val base = (0 until 200).map(i => s"t${i * 7 % 97}x$i").mkString(" ")
    val docs = Seq((0L, base), (1L, "INS " + base)).toDF("doc_id", "text")
    val cdc = TextOps.cdcChunks(docs, "doc_id", "text", avgLen = 16)
      .select($"doc_id", $"digest").as[(Long, String)].collect()
    val d0 = cdc.filter(_._1 == 0L).map(_._2).toSet
    val d1 = cdc.filter(_._1 == 1L).map(_._2).toSet
    assert(d0.size >= 5, s"want several chunks, got ${d0.size}")
    // only the chunk containing the insertion point changes — every
    // later boundary is a function of local content and realigns
    assert(d0.intersect(d1).size >= d0.size - 1,
      s"cdc: ${d0.intersect(d1).size} of ${d0.size} digests survive")
    // fixed windows all shift by one token: nothing realigns
    val fixed = docs
      .select($"doc_id",
        posexplode(TextOps.chunkTokensOf(TextOps.tokens($"text"), 32, 32))
          .as(Seq("i", "chunk")))
      .filter($"chunk" =!= "")
      .select($"doc_id", md5($"chunk").as("digest"))
      .as[(Long, String)].collect()
    val f0 = fixed.filter(_._1 == 0L).map(_._2).toSet
    val f1 = fixed.filter(_._1 == 1L).map(_._2).toSet
    assert(f0.intersect(f1).isEmpty, "fixed windows must all shift")
    // chunks partition the token stream: concatenating in order
    // reproduces the doc
    val joined = TextOps.cdcChunks(docs, "doc_id", "text", avgLen = 16)
      .filter($"doc_id" === 0L).orderBy($"chunk_idx")
      .select($"chunk").as[String].collect().mkString(" ")
    assert(joined == base)
  }

  test("repeatedSpans: a doc fully duplicated elsewhere is one whole-doc span") {
    import spark.implicits._
    val text = (0 until 12).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val spans = graft.operators.Dedup
      .repeatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSet == Set((0L, 0L, 11L), (1L, 0L, 11L)))
    val scrubbed = graft.operators.Dedup
      .scrubRepeatedSpans(docs, "doc_id", "text",
        graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text", n = 5))
      .orderBy("doc_id").collect()
    // everything scrubbed: empty remainder, zero kept — rows survive
    assert(scrubbed.length == 2)
    scrubbed.foreach { r =>
      assert(r.getString(1) == "" && r.getLong(2) == 0L)
    }
  }

  test("keepBestByPairs keeps the argmax-score member, ties to smallest id") {
    import spark.implicits._
    // components: {1,2,3} (chain), {5,6}; 9 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), // best = 2 (score 30)
      (5L, 7L), (6L, 7L),              // tie → smallest id 5
      (9L, 1L)                         // untouched singleton
    ).toDF("doc_id", "score")
    val kept = graft.operators.Dedup
      .keepBestByPairs(docs, "doc_id", "score", pairs, "doc_a", "doc_b")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 5L, 9L))
    // keep-first would have chosen 1 — the two rules genuinely differ
    val first = graft.operators.Dedup
      .keepFirstByPairs(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select($"doc_id").as[Long].collect().toSet
    assert(first == Set(1L, 5L, 9L))
  }

  test("components converges on a 300-node path within default maxRounds (pointer halving)") {
    import spark.implicits._
    // a single long chain: one-hop propagation needs 299 rounds and
    // would silently mislabel under maxRounds = 50; halving needs ~log
    // (the driver finish is exact at any depth; the loop is the path
    // maxRounds bounds)
    val pairs = (0 until 299).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    for ((path, comps) <- onBothPaths(Dedup.components(pairs, "a", "b")
        .as[(Long, Long)].collect())) {
      assert(comps.length == 300, path)
      assert(comps.forall(_._2 == 0L), s"$path: " + comps.filter(_._2 != 0L).take(5).mkString(","))
    }
  }

  test("loop-path components fails loudly when maxRounds is too small, converges with enough") {
    // a reversed 300-node chain: the loop needs several rounds even with
    // pointer halving, so 2 rounds cannot converge
    val pairs = (299 until 0 by -1).map(i => (i.toLong, i - 1L)).toDF("a", "b")
    val want = labels(Dedup.components(pairs, "a", "b")) // driver finish
    withBudget("-1") {
      val e = intercept[IllegalStateException](Dedup.components(pairs, "a", "b", maxRounds = 2))
      assert(e.getMessage.contains("after 2 rounds") && e.getMessage.contains("maxRounds = 2"),
        e.getMessage)
      assert(labels(Dedup.components(pairs, "a", "b", maxRounds = 50)) == want)
    }
    assert(want.size == 300 && want.values.forall(_ == 0L))
  }

  test("editVerifyPairs confirms close candidates, rejects band collisions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fux"),   // dist 1 from doc 1
      (3L, "a completely different sentence"),
      (4L, "the quick brown fox!")   // dist 1 from doc 1, 2 from doc 2
    ).toDF("doc_id", "text")
    val candidates = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.editVerifyPairs(candidates,
        "doc_a", "doc_b", docs, "doc_id", "text", maxDist = 1)
      .select($"doc_a", $"doc_b", $"edit_dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 4L, 1L)))
    // widening the budget admits the dist-2 pair, never the far one
    val wide = graft.operators.Dedup.editVerifyPairs(candidates,
        "doc_a", "doc_b", docs, "doc_id", "text", maxDist = 2)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(wide == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("neighborPairsByKey == naive |ka-kb| < delta self-join, once per pair") {
    import spark.implicits._
    def h(i: Int): Long = {
      var x = i.toLong * 2654435761L + 12345L
      x ^= (x >>> 16); x *= 0x45d9f3b3335b369L; x ^= (x >>> 32)
      math.abs(x) % 500
    }
    val rows = (0 until 300).map(i => (i.toLong, h(i))).toDF("id", "key")
    for (delta <- Seq(1L, 4L, 37L)) {
      val got = graft.operators.Dedup
        .neighborPairsByKey(rows, "id", "key", delta)
        .select($"id_a", $"id_b", $"key_dist")
        .as[(Long, Long, Long)].collect()
      assert(got.length == got.toSet.size, s"dupes at delta $delta")
      val naive = rows.toDF("id_a", "ka")
        .crossJoin(rows.toDF("id_b", "kb"))
        .filter($"id_a" < $"id_b" && abs($"ka" - $"kb") < delta)
        .select($"id_a", $"id_b", abs($"ka" - $"kb").as("d"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got.toSet == naive, s"mismatch at delta $delta")
    }
  }

  test("semantic multi-assignment catches the cell-boundary pair single-assign misses") {
    import spark.implicits._
    import graft.index.IVFFlat
    import graft.operators.Dedup
    // unit centroids at 0° and 90°; an ε-dup pair straddles the 45°
    // boundary: one lands in cell 0, the other in cell 1 — invisible
    // to the single-assignment scan, caught with top-2 multi-assign
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = Array(unit(0), unit(90))
    val emb = Seq(
      (0L, unit(44)),  // nearest cell 0, boundary
      (1L, unit(46)),  // nearest cell 1, boundary — ε-dup of 0
      (2L, unit(1)),   // deep in cell 0
      (3L, unit(89)))  // deep in cell 1
      .toDF("vec_id", "embedding")
    def pairsAt(marginSq: Double): Set[(Long, Long)] =
      Dedup.semanticPairsMulti(
          IVFFlat.assignMulti(emb, "vec_id", "embedding", cents, marginSq),
          maxCosDist = 0.01)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val single = pairsAt(1.0)
    val multi = pairsAt(1.5)
    assert(!single.contains((0L, 1L)),
      s"single-assign should miss the straddling pair: $single")
    assert(multi.contains((0L, 1L)), s"multi-assign must catch it: $multi")
    // no duplicate emissions when a pair shares BOTH cells
    val both = Dedup.semanticPairsMulti(
        IVFFlat.assignMulti(
          Seq((0L, unit(44.5)), (1L, unit(45.5))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", cents, marginSq = 2.0),
        maxCosDist = 1.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(both.length == 1 && both.head == ((0L, 1L)), both.mkString(","))
    // deep-cell rows never multi-assign: cells array stays length 1
    val deep = IVFFlat.assignMulti(emb, "vec_id", "embedding", cents, 1.5)
      .filter($"id".isin(2L, 3L)).select(size($"cells")).collect()
    assert(deep.forall(_.getInt(0) == 1))
    // end-to-end: semdedup collapses the boundary pair to one survivor
    val survivors = Dedup.semdedup(emb, "vec_id", "embedding", cents,
        maxCosDist = 0.01)
      .select($"vec_id").as[Long].collect().toSet
    assert(survivors == Set(0L, 2L, 3L), survivors)
  }

  test("neighborPairsByKey: keys without delta headroom raise, not wrap") {
    import spark.implicits._
    val rows = Seq((1L, Long.MaxValue - 2L), (2L, Long.MaxValue - 1L))
      .toDF("id", "key")
    val e = intercept[Throwable] {
      graft.operators.Dedup.neighborPairsByKey(rows, "id", "key", 8L)
        .collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(x => Option(x.getMessage))
    assert(msgs.exists(_.contains("overflows Long")), e.toString)
    // with headroom the same keys pair fine
    val ok = Seq((1L, 100L), (2L, 103L)).toDF("id", "key")
    assert(graft.operators.Dedup.neighborPairsByKey(ok, "id", "key", 8L)
      .count() == 1L)
  }
}
