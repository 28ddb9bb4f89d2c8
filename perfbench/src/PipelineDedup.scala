package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame

import graft.index.{IVFFlat, Residency}
import graft.operators.{Dedup, KnnGraph}
import graft.sources.VecFile

/** pipeline_dedup: batch corpus operators whose query side is the whole
  * corpus. Each pass reads the vectors (planted ε-duplicates) from a
  * fastText `.vec` file, builds the IVFFlat coarse quantizer, runs the
  * self-`knnJoin` (nprobe 4), `KnnGraph.mutualEdges` and
  * `KnnGraph.clusters`, and `Dedup.semdedup`; synthetic docs with
  * planted near-duplicate texts go through `Dedup.minhashBandPairs` then
  * `Dedup.keepFirstByPairs`. Shuffle- and pair-heavy, and it bypasses
  * the serving path entirely. */
final class PipelineDedup extends Workload {
  val NumVecs = 2000
  val NumDocs = 2000
  val DupShare = 0.1
  val JoinProbe = 4
  /** Neighbours per row in the kNN graph. */
  val GraphK = 3
  /** Share of planted pairs the kNN graph must hold as mutual edges. */
  val GraphFloor = 0.95
  val F1Floor = 0.95

  var vecs: Vecs = _
  var vecPairs: Set[(Long, Long)] = Set.empty
  var docs: Array[(Long, String)] = Array.empty
  var docPairs: Set[(Long, Long)] = Set.empty
  var vecPath: Path = _
  var docFrame: DataFrame = _
  var model: IVFFlat.Model = _

  def setup(r: Run): Unit = {
    val (v, vp) = Gen.withEpsDups(r.seed, NumVecs, numClusters = 64, spread = 0.8, DupShare, eps = 0.1)
    val (d, dp) = Gen.textsWithDups(r.seed, NumDocs, DupShare)
    vecs = v; vecPairs = vp; docs = d; docPairs = dp
    r.checksum = new Checksum().add(v).add(d).hex
    // the vectors arrive as a .vec file in id order, so VecFile's
    // line-order ids are the generated ids
    vecPath = r.tmp.resolve("corpus.vec")
    VecText.write(vecPath, vecs, vecs.ids.indices.sortBy(vecs.ids(_)))
    val s = r.spark
    import s.implicits._
    docFrame = r.materialized(s.sparkContext.parallelize(docs.toSeq, r.slots).toDF("id", "text"))
  }

  /** One whole pass. Its first run of each operator is ~10 s slower in
    * all than the passes after it, and a pass over a slice of the inputs
    * does not warm it as well, since every operator's first run costs
    * the same at any size. */
  def warmup(r: Run): Unit = pass(r)

  private def share(pairs: Set[(Long, Long)], ok: ((Long, Long)) => Boolean): Double =
    pairs.count(ok).toDouble / pairs.size

  private def pass(r: Run): Unit = {
    val t0 = System.nanoTime()
    val emb = r.call("sources.vecfile_read", "build") {
      val l = VecFile.read(r.spark, vecPath.toString)
      val m = r.materialized(l.corpus.select("id", "vector"))
      l.unpersist()
      m
    } { _.count() == NumVecs }
    model = emb.flatMap(e => r.call("index.ivfflat.build", "build")(
      IVFFlat.build(e, "id", "vector", Index.ivfParams(NumVecs)))(_ => true)).orNull
    for (e <- emb if model != null) {
      r.call("operators.knn_join", "knn_join") {
        val g = model.knnJoin(e, "id", "vector", GraphK, JoinProbe).persist()
        (g, g.count())
      } { case (_, n) => n == NumVecs.toLong * GraphK }.foreach { case (graph, _) =>
        r.call("operators.mutual_edges", "knn_join") {
          r.collect(KnnGraph.mutualEdges(graph)).map(x => (x.getLong(0), x.getLong(1))).toSet
        } { edges => share(vecPairs, edges.contains) >= GraphFloor }.foreach { edges =>
          // exactly the components of the mutual edges, labelled by min id
          r.call("operators.clusters", "knn_join") {
            r.collect(KnnGraph.clusters(graph)).map(x => x.getLong(0) -> x.getLong(1)).toMap
          } { _ == Oracle.components(edges) }
        }
        graph.unpersist()
      }
      r.call("operators.semdedup", "semdedup") {
        r.collect(Dedup.semdedup(e, "id", "vector", model.centroids).select("id")).map(_.getLong(0)).toSet
      } { kept =>
        val f1 = Oracle.f1(vecs.ids.toSet -- kept, Oracle.losers(vecPairs))
        r.rec("f1.semdedup", f1)
        f1 >= F1Floor
      }
    }
    val t1 = System.nanoTime()
    r.call("operators.minhash_pairs", "text_dedup") {
      val pairs = Dedup.minhashBandPairs(docFrame, "id", "text")
      (pairs, r.collect(pairs.select("doc_a", "doc_b")).map(x => (x.getLong(0), x.getLong(1))).toSet)
    } { case (_, cand) =>
      r.rec("candidate_pairs", cand.size)
      r.rec("pair_precision", cand.count(docPairs.contains).toDouble / math.max(cand.size, 1))
      share(docPairs, cand.contains) >= F1Floor
    }.foreach { case (pairs, _) =>
      r.call("operators.keep_first", "text_dedup") {
        r.collect(Dedup.keepFirstByPairs(docFrame, "id", pairs, "doc_a", "doc_b").select("id"))
          .map(_.getLong(0)).toSet
      } { kept =>
        val f1 = Oracle.f1(docs.map(_._1).toSet -- kept, Oracle.losers(docPairs))
        r.rec("f1.text", f1)
        f1 >= F1Floor
      }
    }
    val t2 = System.nanoTime()
    r.rec("embed_pipeline", (t1 - t0) / 1e9)
    r.rec("text_pipeline", (t2 - t1) / 1e9)
    // release this pass's corpus checkpoint and index, so every pass
    // starts from the state the first one saw
    emb.foreach(Residency.cool)
    if (model != null) model.cool()
  }

  def loop(r: Run, deadline: Long): Unit = {
    var done = 0
    while (done == 0 || System.nanoTime() < deadline) {
      r.tr.request = done
      r.tr("dedup_pass", "")(pass(r))
      done += 1
      r.log(s"pass $done done")
    }
    r.rec("passes", done)
  }

  def report(r: Run): (Double, Double, Double) = {
    val embS = r.sum("embed_pipeline"); val textS = r.sum("text_pipeline")
    val passes = r.sum("passes")
    r.e2e("embed_pipeline_rows_per_s", NumVecs * passes / embS, "vectors/s")
    r.e2e("text_dedup_docs_per_s", NumDocs * passes / textS, "docs/s")
    val f1 = Stats.mean(Seq(Stats.mean(r.vals("f1.semdedup")), Stats.mean(r.vals("f1.text"))))
    r.e2e("dedup_f1", f1, "fraction")
    r.e2e("passes", passes, "count")
    Seq("sources.vecfile_read", "index.ivfflat.build", "operators.knn_join", "operators.mutual_edges",
      "operators.clusters", "operators.semdedup", "operators.minhash_pairs", "operators.keep_first")
      .foreach(n => r.e2e(n + "_s", r.med(n), "s"))
    if (f1 < F1Floor) r.problem(f"dedup F1 $f1%.3f below floor $F1Floor")
    val passMs = r.vals("embed_pipeline").zip(r.vals("text_pipeline")).map { case (a, b) => (a + b) * 1000 }
    (Stats.median(passMs), (NumVecs + NumDocs) * passes / (embS + textS), f1)
  }

  def layers(r: Run): Unit = {
    val read = r.med("sources.vecfile_read")
    r.layer("sources.vecfile_read_s") = read
    r.layer("sources.vecfile_rows_per_s") = NumVecs / read
    r.layer("index.ivfflat.build_s") = r.med("index.ivfflat.build")
    Seq("knn_join", "mutual_edges", "clusters", "semdedup", "minhash_pairs", "keep_first")
      .foreach(n => r.layer(s"operators.${n}_s") = r.med(s"operators.$n"))
    r.layer("operators.candidate_pairs") = r.med("candidate_pairs")
    r.layer("operators.pair_precision") = r.med("pair_precision")
    Layers.probeEconomy(r, model, vecs.vecs.take(200).toSeq, GraphK, JoinProbe)
    Layers.exhaustive(r, vecs, vecs.take(100))
  }
}
