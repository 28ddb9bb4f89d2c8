package perfbench

/** Seeded input generators. Everything the engine sees is derived from
  * one `--seed` through [[Rng]], so the same seed gives bit-identical
  * inputs; [[Checksum]] prints a digest of them with every run. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextGaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
  }
  /** Child stream: independent of how much the parent has been used. */
  def fork(tag: Long): Rng = new Rng(seed * 0x2545F4914F6CDD1DL + tag)
}

/** A set of vectors and their ids. */
final case class Vecs(ids: Array[Long], vecs: Array[Array[Float]]) {
  def size: Int = ids.length
  def take(n: Int): Vecs = Vecs(ids.take(n), vecs.take(n))
}

/** Clustered unit vectors: point = normalize(centre + noise), with noise
  * of expected norm `spread`. Cluster sizes are Zipf(1)-skewed, so a few
  * cells are large and the tail is thin, as in real embedding corpora. */
final class Clusters(rng: Rng, dim: Int, numClusters: Int, spread: Double) {
  val centres: Array[Array[Double]] = Array.fill(numClusters)(unit(Array.fill(dim)(rng.nextGaussian())))
  private val cdf: Array[Double] = {
    val w = Array.tabulate(numClusters)(c => 1.0 / (c + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  private def zipfCluster(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, numClusters - 1)
  }

  def point(r: Rng, c: Int): Array[Float] = {
    val s = spread / math.sqrt(dim)
    toFloat(unit(Array.tabulate(dim)(j => centres(c)(j) + s * r.nextGaussian())))
  }

  /** `n` points with ids starting at `firstId`, clusters drawn Zipf. */
  def sample(r: Rng, n: Int, firstId: Long): Vecs =
    Vecs(Array.tabulate(n)(i => firstId + i), Array.fill(n)(point(r, zipfCluster(r))))

  private def unit(v: Array[Double]): Array[Double] = {
    val inv = 1.0 / math.sqrt(v.map(x => x * x).sum)
    v.map(_ * inv)
  }
  private def toFloat(v: Array[Double]): Array[Float] = v.map(_.toFloat)
}

object Gen {
  val Dim = 128

  /** Build corpus and held-out queries drawn from the same centres. */
  def corpusAndQueries(seed: Long, n: Int, numQueries: Int, numClusters: Int,
                       spread: Double): (Vecs, Vecs) = {
    val root = new Rng(seed)
    val cl = new Clusters(root.fork(1), Dim, numClusters, spread)
    (cl.sample(root.fork(2), n, 0L), cl.sample(root.fork(3), numQueries, 0L))
  }

  /** Corpus with planted ε-duplicates: `dupShare` of the rows are copies
    * of a distinct original, moved by noise of norm `eps`. Ids are a
    * seeded permutation, so a duplicate's id may fall below its
    * original's. Returns the rows and the planted (lowId, highId) pairs. */
  def withEpsDups(seed: Long, n: Int, numClusters: Int, spread: Double,
                  dupShare: Double, eps: Double): (Vecs, Set[(Long, Long)]) = {
    val root = new Rng(seed).fork(6)
    val cl = new Clusters(root.fork(1), Dim, numClusters, spread)
    val nDup = (n * dupShare).toInt
    val orig = cl.sample(root.fork(2), n - nDup, 0L)
    val r = root.fork(3)
    val sources = pickDistinct(r, orig.size, nDup)
    val s = eps / math.sqrt(Dim)
    val dups = sources.map { i =>
      val v = orig.vecs(i).map(x => x + (s * r.nextGaussian()).toFloat)
      val inv = (1.0 / math.sqrt(v.map(x => x.toDouble * x).sum)).toFloat
      v.map(_ * inv)
    }
    val perm = permutation(r, n)
    val ids = perm.map(_.toLong)
    val pairs = sources.indices.map { i =>
      val a = ids(sources(i)); val b = ids(orig.size + i)
      (math.min(a, b), math.max(a, b))
    }.toSet
    (Vecs(ids, orig.vecs ++ dups), pairs)
  }

  /** Synthetic docs over a 20k-token vocabulary with planted
    * near-duplicates: `dupShare` of the docs copy a distinct original
    * and replace one or two tokens. Ids are a seeded permutation.
    * Returns (id, text) rows and the planted (lowId, highId) pairs. */
  def textsWithDups(seed: Long, n: Int, dupShare: Double): (Array[(Long, String)], Set[(Long, Long)]) = {
    val r = new Rng(seed).fork(7)
    val vocab = 20000
    def token(t: Int): String = "t" + Integer.toString(t, 36)
    val nDup = (n * dupShare).toInt
    val orig = Array.fill(n - nDup)(Array.fill(30 + r.nextInt(31))(r.nextInt(vocab)))
    val sources = pickDistinct(r, orig.length, nDup)
    val dups = sources.map { s =>
      val d = orig(s).clone()
      for (_ <- 0 until 1 + r.nextInt(2)) d(r.nextInt(d.length)) = r.nextInt(vocab)
      d
    }
    val ids = permutation(r, n).map(_.toLong)
    val docs = (orig ++ dups).zipWithIndex.map { case (t, i) => (ids(i), t.map(token).mkString(" ")) }
    val pairs = sources.indices.map { i =>
      val a = ids(sources(i)); val b = ids(orig.length + i)
      (math.min(a, b), math.max(a, b))
    }.toSet
    (docs, pairs)
  }

  private def permutation(r: Rng, n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  private def pickDistinct(r: Rng, n: Int, k: Int): Array[Int] =
    permutation(r, n).take(k)
}

/** FNV-1a digest over the generated inputs, printed with each run so two
  * runs can be checked to have seen the same data. */
final class Checksum {
  private var h = 0xcbf29ce484222325L
  private def mix(b: Long): Unit = { h ^= b; h *= 0x100000001b3L }
  def add(v: Vecs): Checksum = {
    v.ids.foreach(mix)
    v.vecs.foreach(_.foreach(x => mix(java.lang.Float.floatToIntBits(x).toLong)))
    this
  }
  def add(docs: Array[(Long, String)]): Checksum = {
    docs.foreach { case (id, t) => mix(id); mix(t.hashCode.toLong) }
    this
  }
  def hex: String = f"$h%016x"
}
