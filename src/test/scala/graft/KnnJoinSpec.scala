package graft

import org.apache.spark.sql.functions._

import graft.index.IVFFlat
import graft.operators.{Dedup, Exhaustive}

/** Gates for the corpus-scale kNN join (IVFFlat.Model.knnJoin — the
  * shuffle-path twin of searchMany) and the SemDeDup composition built
  * on it (Dedup.semanticPairs / semdedup). */
class KnnJoinSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  private lazy val model = {
    val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<float>")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val indexed = IVFFlat.assign(emb, "vec_id", "embedding", cents)
    IVFFlat.Model(IVFFlat.Params(cents.length), cents,
      Array.fill(cents.length)(Long.MaxValue), indexed)
  }

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "id", "distance").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  test("knnJoin at nprobe=k equals the exhaustive self-kNN join exactly") {
    val exact = asMap(Exhaustive.knnJoin(emb, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 10))
    val got = asMap(model.knnJoin(emb, "vec_id", "embedding",
      k = 10, nprobe = model.params.k))
    assert(got == exact)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "id", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("knnJoin: the driver-routed finish and the plan give the same rows and schema") {
    for (nprobe <- Seq(2, model.params.k)) {
      val Seq((_, routed), (_, plan)) = onBothPaths {
        val df = model.knnJoin(emb, "vec_id", "embedding", k = 10, nprobe = nprobe)
        (df.schema, sortedRows(df))
      }
      assert(routed._1 == plan._1, s"nprobe=$nprobe")
      assert(routed._2 == plan._2, s"nprobe=$nprobe")
      assert(routed._2.size == 10 * emb.count(), s"nprobe=$nprobe")
    }
  }

  test("a routed knnJoin runs two jobs; repeated qids take the plan and merge") {
    model.indexed.count()
    assert(jobsOf(model.knnJoin(emb, "vec_id", "embedding", k = 5, nprobe = 2).collect()) <= 2)
    val twice = emb.filter(col("vec_id") < 20)
      .union(emb.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1))
    val Seq((_, routed), (_, plan)) = onBothPaths(
      sortedRows(model.knnJoin(twice, "vec_id", "embedding", k = 5, nprobe = 2)))
    assert(routed == plan)
    assert(routed.map(_._1).distinct.size == 21)
  }

  test("knnJoin probed config: k rows per query, self always hit, recall floor") {
    val n = emb.count()
    val got = model.knnJoin(emb, "vec_id", "embedding", k = 10, nprobe = 2)
    val perQ = got.groupBy("qid").count().collect()
    assert(perQ.length == n && perQ.forall(_.getLong(1) == 10L))
    // a query's own row lives in its top-1 probe cell, so it is always found
    assert(got.filter(col("qid") === col("id")).count() == n)
    val exact = Exhaustive.knnJoin(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val gotSets = got.select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.keys.toSeq
      .map(q => gotSets(q).intersect(exact(q)).size / 10.0).sum / exact.size
    // near-uniform 64d corpus at 2/8 cells probed: data-bounded floor
    assert(recall >= 0.4, s"recall@10 = $recall")
  }

  test("mutual-kNN clusters separate two tight blobs") {
    import spark.implicits._
    // ids 0..5 near center A, 6..11 near center B (64-dim unit-ish)
    def pt(center: Int, i: Int): Array[Float] = {
      val v = new Array[Float](64)
      v(center) = 1.0f
      v(32 + i % 8) = 0.01f * (i + 1)
      v
    }
    val blobs = ((0 until 6).map(i => (i.toLong, pt(0, i))) ++
      (6 until 12).map(i => (i.toLong, pt(1, i)))).toDF("vec_id", "embedding")
    // k = 6 = self + the 5 blob-mates: the whole blob is mutual, and
    // blob-mates crowd out every cross-blob candidate
    val graph = Exhaustive.knnJoin(blobs, "vec_id", "embedding",
      blobs, "vec_id", "embedding", k = 6)
    val comp = graft.operators.KnnGraph.clusters(graph)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 6L).foreach(i => assert(comp(i) == 0L, s"id $i -> ${comp(i)}"))
    (6L until 12L).foreach(i => assert(comp(i) == 6L, s"id $i -> ${comp(i)}"))
  }

  test("semanticPairs only emits pairs sharing a cell, below threshold, a<b") {
    val assigned = IVFFlat.assign(emb, "vec_id", "embedding", model.centroids)
    val pairs = Dedup.semanticPairs(assigned, maxCosDist = 0.9).cache()
    val cellOf = assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(a < b && d < 0.9 && cellOf(a) == cellOf(b))
    }
  }

  test("semdedup removes a planted in-cell duplicate, keeps the lower id") {
    import spark.implicits._
    val off = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val copies = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"),
        col("label"))
    val planted = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"), col("label")).unionByName(copies)
    val out = Dedup.semdedup(planted, "vec_id", "embedding",
      model.centroids, maxCosDist = 1e-5)
    val kept = out.select("vec_id").as[Long].collect().toSet
    // exact copies: the original (lower id) survives, the copy does not
    (0L until 4L).foreach { i =>
      assert(kept.contains(i) && !kept.contains(i + off))
    }
    assert(kept.size == planted.count() - 4)

    // the prefix rule agrees here (pair graph is copy→base stars) and
    // is what the streaming twin enforces
    val keptPrefix = Dedup.semanticPrefixKeepFirst(planted, "vec_id",
        "embedding", model.centroids, maxCosDist = 1e-5)
      .select("vec_id").as[Long].collect().toSet
    assert(keptPrefix == kept)
  }

  test("hardNegatives keeps only in-band neighbors, ranked, self excluded") {
    import spark.implicits._
    import graft.operators.KnnGraph
    // a synthetic graph: self row, a near-dup, two in-band, one easy
    val graph = Seq(
      (1L, 1L, 0.0), (1L, 2L, 0.3), (1L, 3L, 1.1), (1L, 4L, 1.2),
      (1L, 5L, 1.9),
      (2L, 6L, 1.05), (2L, 7L, 1.05) // distance tie → id order
    ).toDF("qid", "id", "distance")
    val got = KnnGraph.hardNegatives(graph, dupMax = 1.0, easyMax = 1.45,
        perAnchor = 1)
      .select($"qid", $"id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 3L, 1L), (2L, 6L, 1L)))
    val wide = KnnGraph.hardNegatives(graph, 1.0, 1.45, perAnchor = 5)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    assert(wide == Set((1L, 3L), (1L, 4L), (2L, 6L), (2L, 7L)))
  }

  test("matryoshka at dPrefix = d reproduces the exact kNN join bit-for-bit") {
    val exact = asMap(Exhaustive.knnJoin(emb, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 10))
    val got = asMap(Exhaustive.knnJoinMatryoshka(emb, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 10, dPrefix = 64, factor = 1,
      metric = "sqdist"))
    assert(got == exact)
  }

  test("matryoshka prefix config: k rows per query, self hit, recall monotone in factor") {
    val n = emb.count()
    val truth = Exhaustive.knnJoin(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recall(factor: Int): Double = {
      val got = Exhaustive.knnJoinMatryoshka(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10, dPrefix = 16, factor = factor,
        metric = "sqdist")
      val perQ = got.groupBy("qid").count().collect()
      assert(perQ.length == n && perQ.forall(_.getLong(1) == 10L))
      // the query's own row has prefix distance 0 → always shortlisted
      assert(got.filter(col("qid") === col("id")).count() == n)
      val sets = got.select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.keys.toSeq.map(q =>
        (sets(q) & truth(q)).size.toDouble / truth(q).size).sum / truth.size
    }
    // a growing factor grows the shortlist as a superset: every true
    // top-k member already shortlisted stays in the output, so recall
    // is monotone (these embeddings are i.i.d.-dim — the 16/64 prefix
    // holds 1/4 of the energy, the WORST case for truncation;
    // truncation-trained embeddings concentrate energy in the prefix)
    val r2 = recall(2); val r4 = recall(4); val r8 = recall(8)
    assert(r2 <= r4 && r4 <= r8, s"recall not monotone: $r2 $r4 $r8")
    assert(r4 > 0.40, s"recall at factor=4: $r4")
  }
}
