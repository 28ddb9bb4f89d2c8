package graft

import org.apache.spark.sql.functions._

import graft.functions.BqMath
import graft.index.{BQ, IVFFlat}

class BQSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  private lazy val ivf = IVFFlat.build(emb, "vec_id", "embedding",
    IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 10))
  private lazy val bq = BQ.compress(ivf)

  test("packSignBits stores exactly one bit per dimension") {
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val lens = bq.codes.select(length(col("codes"))).distinct()
      .collect().map(_.getInt(0))
    assert(lens.toSeq == Seq((dims + 7) / 8))
  }

  test("packed Hamming == element-wise sign disagreement count") {
    val q = emb.orderBy("vec_id").select(col("embedding").cast("array<float>"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val fused = emb.select(col("vec_id").cast("long").as("id"),
      BqMath.hammingDist(
        BqMath.packSignBits(col("embedding").cast("array<float>")),
        lit(BqMath.packBits(q))).as("h"))
    val elementwise = emb.select(col("vec_id").cast("long").as("id"),
      aggregate(
        zip_with(col("embedding"), typedlit(q),
          (a, b) => when((a > 0f) =!= (b > 0f), 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).as("h"))
    val joined = fused.alias("a").join(elementwise.alias("b"), "id")
      .select(col("a.h").as("ha"), col("b.h").as("hb")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("asymDot == sum of query elements signed by the code") {
    val q = emb.orderBy("vec_id").select(col("embedding").cast("array<float>"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val rows = emb.limit(50)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("v"),
        BqMath.asymDot(
          BqMath.packSignBits(col("embedding").cast("array<float>")),
          typedlit(q)).as("s"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("v")
      var want = 0.0
      v.indices.foreach { i =>
        val qi = q(i).toDouble
        want += (if (v(i) > 0f) qi else -qi)
      }
      assert(r.getAs[Double]("s") == want, s"id ${r.getLong(0)}")
    }
  }

  test("probe-all symmetric search matches driver-computed Hamming top-k") {
    val q = emb.filter($"vec_id" === 2)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val got = bq.search(q, k = 10, minProbe = bq.params.k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val qBits = BqMath.packBits(q)
    val want = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>")).as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) =>
        val vb = BqMath.packBits(v)
        var h = 0
        vb.indices.foreach(i => h += Integer.bitCount((vb(i) ^ qBits(i)) & 0xff))
        (id, h.toDouble)
      }
      .sortBy { case (id, h) => (h, id) }.take(10)
    assert(got.toSeq == want.toSeq)
  }

  test("searchMany at nprobe=k agrees with single-query probe-all") {
    val q = emb.filter($"vec_id" === 7)
    val qv = q.select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val batch = bq.searchMany(q, "vec_id", "embedding", k = 5,
        nprobe = bq.params.k)
      .orderBy("distance", "id")
      .select("id", "distance").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val single = bq.search(qv, k = 5, minProbe = bq.params.k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(batch.toSeq == single.toSeq)
  }

  test("refined search with corpus-wide shortlist equals float exhaustive") {
    val queries = emb.filter($"vec_id" < 5)
    val refined = bq.searchManyRefined(queries, "vec_id", "embedding",
        k = 10, factor = 1000, emb, "vec_id", "embedding",
        nprobe = bq.params.k)
      .orderBy("qid", "distance", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = graft.operators.Exhaustive.knnJoin(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding", 10)
      .orderBy("qid", "distance", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(refined.toSeq == exact.toSeq)
  }

  test("rangeSearchRefined: probe-all + slack-inf == exhaustive radius; slack prunes safely") {
    val queries = emb.filter($"vec_id" < 5)
    val exact10 = graft.operators.Exhaustive.knnJoin(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding", 10)
    val radius = exact10.agg(max("distance")).head().getDouble(0)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("distance"))).toSet
    val want = asSet(graft.operators.Exhaustive.rangeSearch(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding", radius))
    val got = asSet(bq.rangeSearchRefined(queries, "vec_id", "embedding",
      radius, emb, "vec_id", "embedding", nprobe = bq.params.k))
    assert(got == want)
    assert(got.exists(_._3 == radius), "inclusive boundary row missing")
    // a finite slack only ever REMOVES rows (estimate pruning is a
    // shortlist cut; the float re-rank forbids false positives), and
    // every surviving distance still passes the radius
    val pruned = asSet(bq.rangeSearchRefined(queries, "vec_id", "embedding",
      radius, emb, "vec_id", "embedding", slack = 0.0,
      nprobe = bq.params.k))
    assert(pruned.subsetOf(got))
    assert(pruned.forall(_._3 <= radius))
    // residual model: slack is a true squared-distance estimate, so a
    // generous slack band keeps the exact result
    val bqr = BQ.compressResidual(ivf)
    val gotRes = asSet(bqr.rangeSearchRefined(queries, "vec_id", "embedding",
      radius, emb, "vec_id", "embedding", slack = radius * 4.0,
      nprobe = bqr.params.k))
    assert(gotRes.subsetOf(want))
    // recall of the estimate-pruned sweep stays high at 4x slack
    assert(gotRes.size >= (want.size * 0.9).toInt,
      s"residual slack pruning lost too much: ${gotRes.size}/${want.size}")
  }

  test("knnJoinAsym (shuffle path) equals searchManyAsym (broadcast path)") {
    val queries = emb.filter($"vec_id" < 25)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "distance").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val shuffled = asSet(bq.knnJoinAsym(queries, "vec_id", "embedding",
      k = 10, nprobe = bq.params.k))
    val broadcasted = asSet(bq.searchManyAsym(queries, "vec_id", "embedding",
      k = 10, nprobe = bq.params.k))
    assert(shuffled == broadcasted)
  }

  test("knnJoinRefined with corpus-wide shortlist equals float exhaustive (self-join)") {
    val refined = bq.knnJoinRefined(emb, "vec_id", "embedding",
        k = 10, factor = 1000, emb, "vec_id", "embedding",
        nprobe = bq.params.k)
      .orderBy("qid", "distance", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = graft.operators.Exhaustive.knnJoin(
        emb, "vec_id", "embedding", emb, "vec_id", "embedding", 10)
      .orderBy("qid", "distance", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(refined.toSeq == exact.toSeq)
  }

  test("asym shortlist (factor 10) + re-rank keeps recall@10 on sf0.001") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = graft.operators.Exhaustive.knnJoin(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding", 10)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = bq.searchManyRefined(queries, "vec_id", "embedding",
        k = 10, factor = 10, emb, "vec_id", "embedding",
        nprobe = bq.params.k)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size / 10.0
    }
    assert(recalls.sum / recalls.size >= 0.5,
      s"mean recall ${recalls.sum / recalls.size}")
  }

  test("symmetric search refuses residual models (per-cell frames)") {
    val bqr = BQ.compressResidual(ivf)
    val q = emb.filter($"vec_id" === 4)
    intercept[IllegalArgumentException] {
      bqr.searchMany(q, "vec_id", "embedding", k = 5)
    }
    intercept[IllegalArgumentException] {
      bqr.search(new Array[Float](64), k = 5)
    }
    // the asymmetric path (rnorm-scaled, cross-cell-comparable) accepts
    assert(bqr.searchManyAsym(q, "vec_id", "embedding", k = 5,
      nprobe = bqr.params.k).count() == 5)
  }

  test("residual codes: probe-all asym matches the driver-computed score") {
    val bqr = BQ.compressResidual(ivf)
    val q = emb.filter($"vec_id" === 4)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val got = bqr.searchManyAsym(emb.filter($"vec_id" === 4), "vec_id",
        "embedding", k = 10, nprobe = bqr.params.k)
      .orderBy("distance", "id")
      .select("id", "distance").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = ivf.indexed
      .select(col("id"), col("vector").cast("array<float>"), col("cluster"))
      .as[(Long, Array[Float], Int)].collect()
      .map { case (id, v, c) =>
        val cent = bqr.centroids(c)
        val inv = 2.0 / math.sqrt(v.length.toDouble)
        var qc2 = 0.0; var asym = 0.0; var r2 = 0.0
        v.indices.foreach { i =>
          val qi = q(i).toDouble - cent(i).toDouble
          val ri = v(i).toDouble - cent(i).toDouble
          qc2 += qi * qi; r2 += ri * ri
          asym += (if (ri > 0) qi else -qi)
        }
        val rnorm = math.sqrt(r2)
        (id, qc2 - asym * rnorm * inv + rnorm * rnorm)
      }
      .sortBy { case (id, d) => (d, id) }.take(10)
    assert(got.toSeq == want.toSeq)
  }

  test("residual coding beats plain sign codes on a clustered corpus") {
    // plain sign codes collapse inside tight clusters (every member
    // shares one sign pattern); residual coding is the repair. Build
    // the adversarial corpus explicitly: 8 well-separated unit centers,
    // points = normalize(center + small noise).
    val dim = 32; val nPer = 250; val nC = 8
    val rng = new scala.util.Random(7)
    val centers = Array.fill(nC) {
      val v = Array.fill(dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val rows = (0 until nC * nPer).map { i =>
      val c = centers(i % nC)
      val v = c.zipWithIndex.map { case (x, j) =>
        x + 0.05f * rng.nextGaussian().toFloat + 0f * j }
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val df = rows.toDF("vec_id", "embedding")
    val civf = IVFFlat.build(df, "vec_id", "embedding",
      IVFFlat.Params(k = nC, numAttempts = 1, maxIterations = 10))
    val queries = df.filter($"vec_id" < 20)
    val exact = graft.operators.Exhaustive.knnJoin(
        queries, "vec_id", "embedding", df, "vec_id", "embedding", 10)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(m: BQ.Model): Double = {
      val approx = m.searchManyAsym(queries, "vec_id", "embedding",
          k = 10, nprobe = 2)
        .select("qid", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.keys.toSeq
        .map(q => approx.getOrElse(q, Set.empty).intersect(exact(q)).size / 10.0)
        .sum / exact.size
    }
    val plain = recallOf(BQ.compress(civf))
    val res = recallOf(BQ.compressResidual(civf))
    assert(res > plain, s"residual $res vs plain $plain")
    assert(res >= 0.4, s"residual recall $res")
  }

  test("residual save/load round-trips the flag and the results") {
    val bqr = BQ.compressResidual(ivf)
    val dir = java.nio.file.Files.createTempDirectory("bqresidx").toString
    bqr.save(dir)
    val back = BQ.load(spark, dir)
    assert(back.residual)
    val q = emb.filter($"vec_id" === 9)
    val a = bqr.searchManyAsym(q, "vec_id", "embedding", 5, nprobe = bqr.params.k)
      .orderBy("distance", "id").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val b = back.searchManyAsym(q, "vec_id", "embedding", 5, nprobe = back.params.k)
      .orderBy("distance", "id").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(a.toSeq == b.toSeq)
  }

  test("add then search finds the added row at Hamming 0; remove hides it") {
    val newId = 999999L
    val vec = emb.filter($"vec_id" === 0)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val added = bq.add(Seq((newId, vec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val hits = added.search(vec, k = 3, minProbe = added.params.k).collect()
    assert(hits.exists(r => r.getLong(0) == newId && r.getDouble(1) == 0.0))
    val removed = added.remove(Seq(newId).toDF("vec_id"), "vec_id")
    val after = removed.search(vec, k = 3, minProbe = removed.params.k).collect()
    assert(!after.exists(_.getLong(0) == newId))
  }

  test("save/load round-trips codes, centroids and search results") {
    val dir = java.nio.file.Files.createTempDirectory("bqidx").toString
    bq.save(dir)
    val back = BQ.load(spark, dir)
    assert(back.params == bq.params)
    assert(back.centroids.length == bq.centroids.length)
    assert(back.codes.count() == bq.codes.count())
    val q = emb.filter($"vec_id" === 3)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val a = bq.search(q, 5, minProbe = bq.params.k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = back.search(q, 5, minProbe = back.params.k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("pad bits beyond the dimension never contribute") {
    // dim 5 -> one byte with 3 pad bits; two vectors agreeing on all
    // five signs must be at Hamming 0 regardless of padding
    val df = Seq(
      (1L, Array(0.5f, -0.1f, 0.0f, 2f, -3f)),
      (2L, Array(9f, -9f, -0.0f, 1e-9f, -1e-9f))).toDF("id", "v")
    val codes = df.select(col("id"),
      BqMath.packSignBits(col("v")).as("c")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("c")).toMap
    assert(codes(1).length == 1 && codes(2).length == 1)
    var h = 0
    h += Integer.bitCount((codes(1)(0) ^ codes(2)(0)) & 0xff)
    assert(h == 0) // signs agree element-wise (0.0 and -0.0 are both "not > 0")
  }

  test("dimension-mismatched kernels throw, never score a prefix") {
    // a 128-pad rotated query against 64-dim codes is the reachable bug
    // class (VERDICT r8): a partial score is plausible-looking and
    // silently wrong, so the kernels are strict on length
    val df = Seq((1L, Array.fill(64)(1.0f), Array.fill(128)(1.0f)))
      .toDF("id", "v64", "v128")
    val hammingMismatch = df.select(BqMath.hammingDist(
      BqMath.packSignBits(col("v64")), BqMath.packSignBits(col("v128"))))
    val eH = intercept[Throwable](hammingMismatch.collect())
    assert(hasMsg(eH, "mismatch"), s"hammingDist must name the mismatch: $eH")
    val asymMismatch = df.select(BqMath.asymDot(
      BqMath.packSignBits(col("v64")), col("v128")))
    val eA = intercept[Throwable](asymMismatch.collect())
    assert(hasMsg(eA, "mismatch"), s"asymDot must name the mismatch: $eA")
    // equal dims still score
    assert(df.select(BqMath.hammingDist(BqMath.packSignBits(col("v64")),
      BqMath.packSignBits(col("v64")))).head().getInt(0) == 0)
  }
}
