package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(vecs: (Array[Float], Array[Float])*) =
    vecs.toSeq.toDF("a", "b")

  test("dot, sqDist, magnitude against hand values") {
    val df = one((Array(1f, 2f, 3f), Array(4f, -5f, 6f)))
    val r = df.select(
      dot($"a", $"b").as("d"),
      sqDist($"a", $"b").as("s"),
      magnitude($"a").as("m")).head()
    assert(r.getDouble(0) === 1.0 * 4 - 2 * 5 + 3 * 6)
    assert(r.getDouble(1) === 9.0 + 49 + 9)
    assert(math.abs(r.getDouble(2) - math.sqrt(14.0)) < 1e-12)
  }

  test("normalizeF produces unit norm; epsilon guard returns input (base.rs:99-105)") {
    val df = Seq(
      (Array(3f, 4f), "big"),
      (Array(1e-8f, 1e-8f), "tiny")).toDF("v", "tag")
    val out = df.select($"tag", normalizeF($"v").as("n"),
      magnitude(normalizeF($"v")).as("m")).collect()
    val big = out.find(_.getString(0) == "big").get
    assert(math.abs(big.getDouble(2) - 1.0) < 1e-6)
    val tiny = out.find(_.getString(0) == "tiny").get
    assert(tiny.getAs[scala.collection.Seq[Float]](1) .toSeq == Seq(1e-8f, 1e-8f)) // unchanged
  }

  test("property: normalizeLocal is bit-identical to normalizeF (seeded random)") {
    val rnd = new scala.util.Random(0x0e11L)
    val random = Seq.fill(300) {
      val d = 1 + rnd.nextInt(160)
      val scale = math.pow(10.0, rnd.nextInt(13) - 6).toFloat // 1e-6 .. 1e6
      Array.fill(d)((rnd.nextGaussian() * scale).toFloat)
    }
    // the zero vector, one below the 1e-6 guard, one just above it,
    // and the empty vector all take the guard's branch or its edge
    val edges = Seq(Array.fill(8)(0f), Array(3e-7f, 4e-7f),
      Array(6e-7f, 8e-7f), Array.empty[Float])
    val vs = random ++ edges
    val viaSpark = vs.zipWithIndex.toDF("v", "i")
      .select($"i", normalizeF($"v")).collect()
      .sortBy(_.getInt(0)).map(_.getAs[scala.collection.Seq[Float]](1).toArray)
    def bits(a: Array[Float]) = a.map(java.lang.Float.floatToRawIntBits).toSeq
    for ((v, i) <- vs.zipWithIndex)
      assert(bits(normalizeLocal(v)) == bits(viaSpark(i)), s"vector $i (dim ${v.length})")
  }

  test("cosineDistance on normalized vectors = 1 - dot; self distance ~ 0") {
    val v = Array(0.6f, 0.8f)
    val df = one((v, v))
    val r = df.select(cosineDistance($"a", $"b")).head().getDouble(0)
    assert(math.abs(r) < 1e-6)
  }

  test("property: sqDist(a,a)=0, sqDist symmetric, dot commutative (seeded random)") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(20)((
      Array.fill(8)(rnd.nextFloat() * 20 - 10),
      Array.fill(8)(rnd.nextFloat() * 20 - 10)))
    val rows = one(pairs: _*).select(
      sqDist($"a", $"a"), sqDist($"a", $"b"), sqDist($"b", $"a"),
      dot($"a", $"b"), dot($"b", $"a")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == 0.0)
      assert(r.getDouble(1) == r.getDouble(2))
      assert(r.getDouble(3) == r.getDouble(4))
    }
  }

  test("vecAdd / vecSub / vecMidpoint elementwise") {
    val df = one((Array(1f, 2f), Array(3f, 5f)))
    val r = df.select(
      vecAdd($"a", $"b"), vecSub($"b", $"a"), vecMidpoint($"a", $"b")).head()
    assert(r.getAs[scala.collection.Seq[Float]](0) .toSeq == Seq(4f, 7f))
    assert(r.getAs[scala.collection.Seq[Float]](1) .toSeq == Seq(2f, 3f))
    assert(r.getAs[scala.collection.Seq[Double]](2) .toSeq == Seq(2.0, 3.5))
  }
}
