package graft

import org.apache.spark.sql.functions._

import graft.functions.Rotate.mix64
import graft.index.{Opq, PQ}

/** OPQ trained rotation (index/Opq): the Procrustes alternation must
  * produce an orthogonal R that reduces PQ reconstruction error on
  * spectra where subspace boundaries cut across correlated dimensions
  * — exactly the regime where the data-agnostic Hadamard rotation
  * leaves recall on the table (VERDICT r8 #7). */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  private def unif(h: Long): Double =
    (h >>> 11).toDouble / (1L << 53).toDouble - 0.5

  /** Adversarial spectrum for m=2 over dim 16: dim j and dim j+8 carry
    * the SAME latent (plus small noise), so each codebook subspace
    * sees only half of every correlated pair — a rotation that aligns
    * pairs into one subspace halves the quantization error. */
  private lazy val aniso = (0 until 512).map { i =>
    val lat = Array.tabulate(8)(j => unif(mix64(i.toLong * 131L + j)))
    val v = new Array[Float](16)
    var j = 0
    while (j < 8) {
      v(j) = lat(j).toFloat
      v(j + 8) = (lat(j) + 0.05 * unif(mix64(i.toLong * 733L + j + 99))).toFloat
      j += 1
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding").cache()

  private val params = PQ.Params(m = 2, k = 16, iterations = 6)

  test("pythagoreanR is exactly orthogonal and engine-exact by construction") {
    val r = Opq.pythagoreanR(64)
    // R·Rᵀ ≈ I (0.6/0.8 literals are inexact doubles; products round)
    for (i <- 0 until 64; j <- 0 until 64) {
      var s = 0.0
      var k = 0
      while (k < 64) { s += r(i)(k) * r(j)(k); k += 1 }
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(s - want) < 1e-15, s"RRᵀ($i,$j) = $s")
    }
    // norm preservation through the float frame
    val v = Array.tabulate(64)(i => unif(mix64(i + 7L)).toFloat)
    val y = Opq.applyRF(v, r)
    val n0 = v.map(x => x.toDouble * x).sum
    val n1 = y.map(x => x.toDouble * x).sum
    assert(math.abs(n0 - n1) / n0 < 1e-5)
  }

  test("training reduces reconstruction error on a straddling spectrum") {
    val id = Opq.Trained(Opq.identityR(16),
      PQ.train(aniso, "vec_id", "embedding", params).codebooks, params)
    val opq = Opq.train(aniso, "vec_id", "embedding", params, opqIters = 4)
    val eId = Opq.reconstructionError(aniso, "vec_id", "embedding", id)
    val eOpq = Opq.reconstructionError(aniso, "vec_id", "embedding", opq)
    assert(eOpq < eId * 0.75,
      s"OPQ must beat identity by a margin on the straddling spectrum: " +
        s"identity $eId vs opq $eOpq")
    // R stays orthogonal through the SVD updates
    val r = opq.r
    for (i <- 0 until 16; j <- 0 until 16) {
      var s = 0.0
      var k = 0
      while (k < 16) { s += r(i)(k) * r(j)(k); k += 1 }
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(s - want) < 1e-9, s"RRᵀ($i,$j) = $s")
    }
    // same input, same partitioning → bit-identical retrain
    val again = Opq.train(aniso, "vec_id", "embedding", params, opqIters = 4)
    assert(again.r.flatten.toSeq == opq.r.flatten.toSeq)
  }

  test("rotation round-trips through saveR/loadR and serves through PQ") {
    val opq = Opq.train(aniso, "vec_id", "embedding", params, opqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("opqr")
      .resolve("r").toString
    Opq.saveR(opq.r, spark, dir)
    val back = Opq.loadR(spark, dir)
    assert(back.flatten.toSeq == opq.r.flatten.toSeq)
    // the serving shape: rotate corpus + queries, plain PQ in between
    val rot = Opq.rotateFrame(aniso, "vec_id", "embedding", back)
      .localCheckpoint(true)
    val model = PQ.withCodebooks(rot, "id", "vector", opq.cbs, opq.params)
    val got = model.searchMany(rot.filter($"id" < 3), "id", "vector", 5)
    assert(got.count() == 15)
  }

  test("full Trained round-trips through save/load and serves identically") {
    val opq = Opq.train(aniso, "vec_id", "embedding", params, opqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("opqfull").toString
    Opq.save(opq, spark, dir)
    val back = Opq.load(spark, dir)
    // every component bit-identical: R, codebooks, params
    assert(back.r.flatten.toSeq == opq.r.flatten.toSeq)
    assert(back.params == opq.params)
    assert(back.cbs.length == opq.cbs.length)
    back.cbs.zip(opq.cbs).foreach { case (a, b) =>
      assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    }
    // one-call serving from the loaded bundle: same ADC results as
    // serving from the in-memory Trained
    def serve(t: Opq.Trained) = {
      val rot = Opq.rotateFrame(aniso, "vec_id", "embedding", t.r)
        .localCheckpoint(true)
      PQ.withCodebooks(rot, "id", "vector", t.cbs, t.params)
        .searchMany(rot.filter($"id" < 3), "id", "vector", 5)
        .select($"qid", $"id", $"distance")
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(serve(back) == serve(opq))
  }

  test("applyRF rejects a mis-dimensioned vector instead of truncating") {
    val r = Opq.identityR(8)
    val e = intercept[IllegalArgumentException](
      Opq.applyRF(new Array[Float](4), r))
    assert(e.getMessage.contains("dim 4"), e.getMessage)
    intercept[IllegalArgumentException](Opq.applyRF(new Array[Float](9), r))
  }

  test("loadR refuses a corpus-sized table under the driver-collect budget") {
    val dir = java.nio.file.Files.createTempDirectory("opqbig")
      .resolve("r").toString
    (0 until 64).map(i => (i, Seq.fill(4)(i.toDouble)))
      .toDF("i", "vals").write.parquet(dir)
    spark.conf.set(graft.index.Batches.MaxBatchKey, "16")
    try {
      val e = intercept[IllegalArgumentException](Opq.loadR(spark, dir))
      assert(e.getMessage.contains("Opq.saveR"), e.getMessage)
    } finally spark.conf.unset(graft.index.Batches.MaxBatchKey)
  }
}
