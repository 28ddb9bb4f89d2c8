package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Plan-shape gates: these assert the physical properties that make the
  * operators scale (broadcast direction, column pruning, partial
  * aggregation, codegen) rather than just their outputs — a plan that
  * silently regresses to shuffling the corpus would still be "correct"
  * but unusable at 100 TB. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("one session contract: builders only in Sessions; the suite session carries it") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not run from the repo root: ${root.toAbsolutePath}")
    val builder = "SparkSession" + ".builder"
    val files = Files.walk(root)
    val offenders =
      try files.iterator.asScala
        .filter(f => f.toString.endsWith(".scala") &&
          f.getFileName.toString != "Sessions.scala")
        .filter(f => Files.readString(f).contains(builder))
        .map(root.relativize(_: Path).toString).toList
      finally files.close()
    assert(offenders.isEmpty,
      s"session builder outside Sessions.scala: ${offenders.mkString(", ")}")

    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4194304")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
  }

  test("one streaming driver: foreachBatch only inside Streaming.foldBatches") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not run from the repo root: ${root.toAbsolutePath}")
    val sink = "foreachBatch"
    val files = Files.walk(root)
    val hits =
      try files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(f => sink.r.findAllMatchIn(Files.readString(f))
          .map(m => (root.relativize(f: Path).toString, m.start)))
        .toList
      finally files.close()
    assert(hits.map(_._1) == List("graft/streaming/Streaming.scala"),
      s"$sink outside Streaming.foldBatches")
    val (file, at) = hits.head
    val src = Files.readString(root.resolve(file))
    val start = src.indexOf("def foldBatches[")
    val next = src.indexOf("\n  def ", start + 1)
    assert(start >= 0 && start < at && (next < 0 || at < next),
      s"the one $sink call is not inside foldBatches")
  }

  test("one probed-cell core: per-query cut, cell prune and centroid sidecar live once") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(f => root.relativize(f: Path).toString -> Files.readString(f)).toMap
      finally files.close()
    // (needle, the one file that may hold it, the def it must sit in;
    // "" = anywhere in that file)
    val owners = Seq(
      ("topK(col(\"distance\")", "graft/functions/TopK.scala", "perQuery"),
      // the one cell-membership predicate (codegen-stable, see inCells)
      ("array_contains(", "graft/index/Cells.scala", "inCells"),
      ("s\"$dir/centroids\"", "graft/index/Cells.scala", ""),
      // the one union-find: the driver finish of Dedup.components
      ("parent(parent(", "graft/operators/Dedup.scala", "componentsOnDriver"),
      // the lane file's fixtures: one pinned-size IVF model, one query-token frame
      ("Array.fill(cents.length)(Long.MaxValue)", "graft/SparkEntry.scala", "pinnedIvf"),
      ("withColumnRenamed(\"doc_id\", \"qid\")", "graft/SparkEntry.scala", "queryTokens"))
    // a def ends where the next member of its object starts, whatever
    // its modifiers (`def`, `private[graft] def`, `val`, ...)
    val member = """\n  (?:(?:private|protected)(?:\[\w+\])? )?(?:final )?(?:case )?(?:lazy )?(?:def|val|class|object) """.r
    for ((needle, owner, inDef) <- owners) {
      val hits = for {
        (file, src) <- sources.toList
        at <- Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
          .takeWhile(_ >= 0)
      } yield (file, at)
      assert(hits.nonEmpty, s"$needle is gone from $owner")
      val stray = hits.filterNot { case (file, at) =>
        file == owner && (inDef.isEmpty || {
          val src = sources(file)
          val start = src.indexOf(s"def $inDef(")
          val next = member.findFirstMatchIn(src.substring(start + 1))
            .fold(-1)(_.start + start + 1)
          start >= 0 && start < at && (next < 0 || at < next)
        })
      }.map(_._1).distinct
      assert(stray.isEmpty, s"$needle outside $owner $inDef")
    }
    // no cell filter inlines its probe set as `isin` literals
    val inlined = sources.collect {
      case (file, src) if file.startsWith("graft/index/") &&
        src.contains("isin(probed") => file
    }
    assert(inlined.isEmpty, s"isin(probed in ${inlined.mkString(", ")}")
  }

  test("knn join broadcasts the QUERY side, never the corpus") {
    val p = plan("knn_exhaustive")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(500))
    // corpus scan feeds the streamed side: broadcast exchange wraps the
    // filtered (vec_id < 5) query side only
    assert("BroadcastExchange".r.findAllIn(p).size == 1)
  }

  test("knn join shuffles partial top-k only: no full-width window exchange") {
    val p = plan("knn_exhaustive")
    // the old shape ran row_number() over (partition by qid) across every
    // scored corpus row — one reducer per query swallowing the whole
    // corpus; the fixed shape must not plan a Window at all
    assert(!p.contains("Window"), "full-width window in knn plan:\n" + p.take(800))
    // the cut is TopKAggExpr's MAP-SIDE partial (an O(k) heap per query
    // inside the scan stage); the only exchange above the scan carries
    // serialized partial heaps, never scored candidate rows
    assert(p.contains("partial_topkaggexpr"), p.take(1200))
    assert("Exchange hashpartitioning\\(qid#\\d+L".r.findFirstIn(p).isDefined,
      p.take(1200))
  }

  test("knn scan prunes columns to id+vector only") {
    val p = plan("knn_exhaustive")
    // parquet scans read only vec_id + embedding, never label
    assert(!p.contains("label"), "label column must be pruned:\n" + p.take(800))
  }

  test("q1_agg does partial (map-side) aggregation over a pruned scan") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), p.take(600))
    // scan reads exactly the 4 referenced columns
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string,l_linestatus:string>"),
      p.take(900))
  }

  test("join_salted: the salt reaches the join's partitioning keys") {
    val p = plan("join_salted")
    // the whole point of salting: the exchange hashes on (key, salt),
    // so a hot key spreads over s reducers — gate the plan, not hope
    assert("hashpartitioning\\(okey#\\d+L?, __salt".r.findFirstIn(p).isDefined,
      p.take(1500))
  }

  test("ivf batch search joins candidates via broadcast of the probe side") {
    val p = plan("ivf_search_fixed")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("fused distance kernels appear in plans (no HOF fallback in hot path)") {
    val p = plan("dedup_embed")
    assert(p.contains("sqdistexpr") || p.contains("SqDistExpr")
      || p.contains("dotexpr") || p.contains("DotExpr"), p.take(800))
  }

  // Recursive physical-node collector that descends through the AQE
  // wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaf nodes to
  // TreeNode traversal, so a plain collect() would stop at them).
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: flatten(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      r +: flatten(r.child)
    case _ => p +: p.children.flatMap(flatten)
  }

  test("BPE word counts: the corpus crosses exactly one exchange") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.operators.Bpe.wordCounts(docs, "text", maxWords = 1000)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // one word-keyed aggregation exchange (partial agg map-side); the
    // deterministic cap is TakeOrdered, never a full sort exchange —
    // this is the ONLY corpus-sized stage of BPE training
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n" +
      df.queryExecution.executedPlan.toString.take(1200))
    assert(flatten(df.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "word cap must plan as TakeOrderedAndProject:\n" +
        df.queryExecution.executedPlan.toString.take(1200))
  }

  test("single-query search on every tier: TakeOrderedAndProject, no Exchange") {
    val emb = SearchOne.emb(spark, sf0001)
    val q = SearchOne.queries(emb, 1).head
    for ((name, search) <- SearchOne.tiers(emb)) {
      var df: org.apache.spark.sql.DataFrame = null
      val run = launchedBy { df = search(q); df.collect(): Unit }
      val plan = df.queryExecution.executedPlan
      val shown = plan.toString.take(1200)
      if (name == "HNSW") {
        // HNSW plans nothing: one RDD job inside `search` (index.Serve),
        // one stage, and a local result that collects without a job
        assert(run.jobs.size == 1 && run.stagesRun.size == 1,
          s"HNSW search: ${run.jobs.size} jobs, ${run.stagesRun.size} stages run")
        assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
          s"HNSW search result is not local:\n$shown")
      } else {
        val nodes = flatten(plan)
        assert(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
          s"$name search must end in TakeOrderedAndProject:\n$shown")
        assert(!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
          s"$name search plans an Exchange:\n$shown")
      }
    }
  }

  test("LSH searchMany: exactly one row shuffle, probe side broadcast") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val model = graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 2, maxNodeSize = 64))
    val df = model.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
    df.collect() // finalize the adaptive plan before inspecting it
    val nodes = flatten(df.queryExecution.executedPlan)
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // the single exchange is the per-qid top-k merge and it moves
    // (qid, id, distance) triples only — distances are computed below it
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n" +
      df.queryExecution.executedPlan.toString.take(1200))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "probe side must be broadcast:\n" +
        df.queryExecution.executedPlan.toString.take(1200))
  }

  test("PQ and IVFPQ ADC plans: no Window, no vector column in any shuffle") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val params = graft.index.PQ.Params(m = 4, k = 16)
    def check(df: org.apache.spark.sql.DataFrame, what: String,
              shuffleOnly: Boolean): Unit = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(!plan.toString.contains("Window"),
        s"$what plans a Window:\n" + plan.toString.take(1200))
      // ADC's whole point is that only byte codes and (qid, id, distance)
      // triples move — a float-array column in a SHUFFLE means vectors
      // started moving corpus-sized again. Both probe frames (IVFPQ's
      // residual-shifted one and flat PQ's) carry the query vectors by
      // design — the SQ8 serving shape, queries are the serving-sized
      // BROADCAST side — so the check covers shuffles only.
      val exchanges = flatten(plan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        case e: org.apache.spark.sql.execution.exchange.Exchange
          if !shuffleOnly => e
      }
      exchanges.foreach { e =>
        val arrays = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"$what exchange carries vector column(s) ${arrays.map(_.name).mkString(",")}:\n" +
            e.toString.take(600))
      }
    }
    val pq = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding", cbs, params)
    val pqDf = pq.searchMany(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    check(pqDf, "PQ ADC", shuffleOnly = true)
    // flat PQ serves on the same fused kernel as IVFPQ (r14 swap off
    // the mapPartitions LUT scan): the ADC distance must be the
    // codegen expression, with no Dataset decode boundary in the scan
    val pqPlan = pqDf.queryExecution.executedPlan.toString
    // the distance Project sits directly inside a codegen stage ("*(n)
    // Project [... pqadcexpr..."), not behind a MapPartitions decode
    // (the in-plan encode pass upstream of the join is a Dataset map by
    // design — build-side, not the serving scan)
    assert(pqPlan.contains("Project [qid") && pqPlan.contains("pqadcexpr"),
      "flat-PQ ADC distance is not the fused kernel:\n" + pqPlan.take(1200))
    assert(!pqPlan.contains("MapPartitions"),
      "flat-PQ ADC scan still crosses a mapPartitions decode boundary:\n" +
        pqPlan.take(1200))
    val cents = SparkEntry.fixedCentroids(emb)
    val ivfpq = graft.index.IVFPQ.build(emb, "vec_id", "embedding", cents,
      Array.fill(cents.length)(Long.MaxValue), cbs, params)
    val ivfpqDf = ivfpq.searchMany(emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 10, nprobe = 2)
    check(ivfpqDf, "IVFPQ ADC", shuffleOnly = true)
    // the fused ADC kernel must run inside whole-stage codegen — the
    // point of replacing the mapPartitions LUT scan ("*(n)" is the
    // executed plan's codegen-stage marker)
    val ivfpqPlan = ivfpqDf.queryExecution.executedPlan.toString
    assert(ivfpqPlan.contains("WholeStageCodegen") || ivfpqPlan.contains("*("),
      "IVFPQ ADC scan left whole-stage codegen:\n" + ivfpqPlan.take(1200))
    assert(ivfpqPlan.contains("pqadcexpr"),
      "IVFPQ ADC distance is not the fused kernel:\n" + ivfpqPlan.take(1200))
  }

  test("SQ8 probed search: neither codes nor vectors ride any shuffle") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    val sq8 = graft.index.SQ8.compress(graft.index.IVFFlat.Model(
      graft.index.IVFFlat.Params(cents.length), cents, sizes,
      graft.index.IVFFlat.assign(emb, "vec_id", "embedding", cents)))
    val df = sq8.searchMany(emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 10, nprobe = 2)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty) // the per-query top-k group-by
    // the probe side broadcasts (query-batch-sized); the only SHUFFLE
    // payload is the partial top-k heap buffer `buf` (O(k) primitives
    // per query per task — TopKAggExpr's map-side combine) — a BINARY
    // codes column or a float array under any OTHER name means the
    // compressed corpus started moving
    assert(df.queryExecution.executedPlan.toString
      .contains("partial_topkaggexpr"),
      "per-query top-k must partially aggregate map-side")
    shuffles.foreach { e =>
      val bad = e.output.filter(a =>
        (a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          a.dataType == org.apache.spark.sql.types.BinaryType) &&
          a.name != "buf")
      assert(bad.isEmpty,
        s"SQ8 shuffle carries ${bad.map(_.name).mkString(",")}:\n" +
          e.toString.take(600))
    }
  }

  test("BQ probed search: neither codes nor vectors ride any shuffle") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = SparkEntry.fixedCentroids(emb)
    val sizes = Array.fill(cents.length)(Long.MaxValue)
    val bq = graft.index.BQ.compress(graft.index.IVFFlat.Model(
      graft.index.IVFFlat.Params(cents.length), cents, sizes,
      graft.index.IVFFlat.assign(emb, "vec_id", "embedding", cents)))
    for ((df, what) <- Seq(
        (bq.searchMany(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nprobe = 2), "BQ Hamming"),
        (bq.searchManyAsym(emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nprobe = 2), "BQ asym"))) {
      df.collect()
      val shuffles = flatten(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty) // the per-query top-k group-by
      // only the O(k) partial top-k buffer `buf` may move: a BINARY
      // sign code or float array under any other name means the
      // compressed corpus started moving
      assert(df.queryExecution.executedPlan.toString
        .contains("partial_topkaggexpr"),
        s"$what: per-query top-k must partially aggregate map-side")
      shuffles.foreach { e =>
        val bad = e.output.filter(a =>
          (a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
            a.dataType == org.apache.spark.sql.types.BinaryType) &&
            a.name != "buf")
        assert(bad.isEmpty,
          s"$what shuffle carries ${bad.map(_.name).mkString(",")}:\n" +
            e.toString.take(600))
      }
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // the OTHER half of the skew story: join_salted gates the PLANNED
    // mitigation; this gates Spark's runtime one — AQE detecting an
    // oversized shuffle partition after materialization and splitting
    // it, which is what catches the hot keys nobody salted for.
    // Thresholds are lowered so test-sized data trips the detector.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // one hot key carrying ~50x the median partition's bytes
      val left = spark.range(60000).select(
        when(col("id") < 50000, lit(0L)).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val right = spark.range(2000).select(col("id").as("k"),
        md5((col("id") * 7).cast("string")).as("tag"))
      val joined = left.join(right, "k")
      // execute THIS frame (count() would execute a different tree and
      // leave this one's adaptive plan unfinalized)
      assert(joined.collect().length == 50000) // hot key's rows; tail misses
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE must mark the skewed join side split: " + plan.take(1500))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("dedup pair generators never plan a cartesian/nested-loop join") {
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    // every near-dup generator's claim to 100 TB is that candidates meet
    // only inside an equi-join bucket (band, shingle, pigeonhole chunk,
    // LSH leaf); a CartesianProduct or BroadcastNestedLoopJoin in any of
    // them means the bucket key silently fell out of the join condition
    // and the operator regressed to all-pairs (dedup_embed is the
    // documented oracle-only all-pairs face — excluded by design). The
    // public wrappers eagerly checkpoint (their plan collapses to a
    // leaf), so the gate inspects the factored un-checkpointed plans.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bands = Dedup.minhashBands(docs, "doc_id", "text")
    import spark.implicits._
    val postings = docs.as[(Long, String)].flatMap { case (id, t) =>
      graft.operators.TextHashFast.shingles3(
        graft.operators.TextHashFast.tokenize(t)).distinct.map(s => (id, s))
    }.toDF("id", "sh")
    val fp = docs.select(col("doc_id").as("id"),
      graft.operators.TextOps.simhash64(col("text")).as("sim"))
    val lshIdx = graft.index.LSHForest.build(emb, "vec_id", "embedding",
        graft.index.LSHForest.Params(numTrees = 2, maxNodeSize = 64))
      .indexed.select(col("id"), col("vector"),
        posexplode(col("paths")).as(Seq("tree", "path")))
    val audioBlocks = graft.operators.Multimodal.audioBlockFingerprints(
      SparkEntry.audioShiftFixtureRows().toDF("id", "content"))
    val cases: Seq[(String, DataFrame)] = Seq(
      "minhash_pairs" -> Dedup.minhashPairsOf(bands),
      "prefix_keepfirst" -> Dedup.prefixKeepFirstOf(docs, "doc_id", bands),
      "jaccard_pairs" -> Dedup.jaccardPairsOf(postings, 0.2),
      "simhash64_pairs" -> Dedup.simhashPairsOf(fp, maxHamming = 3, bits = 64),
      "embed_lsh_pairs" -> Dedup.embeddingPairsOf(lshIdx, 0.2),
      "audio_block_pairs" -> Dedup.audioBlockPairsOf(audioBlocks,
        minMatches = 4, dfCap = 64))
    cases.foreach { case (name, df) =>
      df.collect() // finalize the adaptive plan
      val plan = flatten(df.queryExecution.executedPlan)
      val nodes = plan.map(_.nodeName)
      assert(!nodes.exists(n => n.contains("CartesianProduct")
          || n.contains("BroadcastNestedLoopJoin")),
        s"$name planned an all-pairs join:\n" +
          df.queryExecution.executedPlan.toString.take(1200))
      // operators return UNORDERED frames — a GLOBAL sort (the orderBy
      // shape: range exchange + global SortExec) inside a pair
      // generator is a corpus-wide sort the caller never asked for;
      // ordering belongs to the query layer. Local sorts (global=false,
      // e.g. under a SortMergeJoin) are legitimate join machinery.
      val globalSorts = plan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty,
        s"$name plans a global Sort inside the operator:\n" +
          globalSorts.map(_.toString.take(300)).mkString("\n"))
    }
  }

  test("knn_filtered pushes the label predicate into the parquet scan") {
    val df = SparkEntry.queries("knn_filtered")(spark, sf001)
    val scans = flatten(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.toString
    }
    // the corpus-side scan must carry the label filter as a
    // PushedFilter (row groups skip at the source) — filtering after
    // the knn join would score the whole corpus first
    assert(scans.exists(s => s.contains("PushedFilters") &&
        s.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(label,2\\)[^\\]]*\\].*")),
      scans.mkString("\n---\n").take(1200))
  }

  test("events_asof plans the union-window shape: no join, one data shuffle") {
    val df = SparkEntry.queries("events_asof")(spark, sf001)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    // the as-of trick's whole point: attribution WITHOUT a range join's
    // per-pair candidate expansion — any join node means the shape
    // regressed
    assert(!nodes.exists(_.nodeName.contains("Join")),
      df.queryExecution.executedPlan.toString.take(1000))
    // one partition-by-user exchange for the window; the final global
    // orderBy adds its range exchange — nothing else may shuffle
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles <= 2, s"expected ≤2 shuffles, got $shuffles")
  }

  test("events_rolling and doc_pack window over partitioned lanes, never one global sort") {
    Seq("events_rolling", "doc_pack").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf001)
      df.collect()
      val windows = flatten(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name lost its window")
      // an empty partition spec = ONE reducer swallowing the corpus —
      // the shape these operators exist to avoid
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name plans a global single-partition window:\n" + w.toString.take(600)))
    }
  }

  test("dedup_exact_norm shuffles the digest, never the document text") {
    val df = SparkEntry.queries("dedup_exact_norm")(spark, sf001)
    df.collect()
    val exchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty)
    // the window dedup's shuffle must carry (doc_id, norm_h) only — a
    // text/norm column in any exchange means full documents started
    // riding the shuffle as the dedup key
    exchanges.foreach { e =>
      val bad = e.output.map(_.name).filter(n => n == "text" || n == "norm")
      assert(bad.isEmpty,
        s"exchange carries document text ${bad.mkString(",")}:\n" +
          e.toString.take(600))
    }
  }

  test("IVFPQ probed search statically prunes code partitions on a loaded index") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val cents = SparkEntry.fixedCentroids(emb)
    val model = graft.index.IVFPQ.build(emb, "vec_id", "embedding", cents,
      Array.fill(cents.length)(Long.MaxValue), cbs,
      graft.index.PQ.Params(m = 4, k = 16))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqplan").toString
    model.save(dir)
    val re = graft.index.IVFPQ.load(spark, dir)
    val df = re.searchMany(emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, nprobe = 2)
    df.collect()
    // probes are computed driver-side, so the probed-cluster union lands
    // in the scan's PartitionFilters at PLANNING time — only probed
    // cluster= directories are listed/read, no dynamic filter involved
    val scans = flatten(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.toString
    }
    val codeScan = scans.filter(_.contains("PartitionFilters"))
    assert(codeScan.exists(s =>
        s.matches("(?s).*PartitionFilters: \\[[^\n]*array_contains\\(\\[[\\d,]+\\], cluster#\\d+\\).*")),
      "probed-cluster filter (Cells.inCells) must reach PartitionFilters:\n" +
        codeScan.mkString("\n---\n").take(1200))
  }

  test("IVFFlat persisted layout is partitioned by cluster (partition pruning on probe)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val model = graft.index.IVFFlat.build(emb, "vec_id", "embedding",
      graft.index.IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 5))
    val dir = java.nio.file.Files.createTempDirectory("ivfplan").toString
    model.save(dir)
    val dirs = new java.io.File(s"$dir/indexed").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("cluster=")), dirs.toString)
    // a probe filter on the reloaded index prunes partitions
    val re = graft.index.IVFFlat.load(spark, dir)
    val probed = re.indexed.filter(col("cluster") === 0)
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(cluster"), scan.take(800))
  }

  test("pii scrub lanes are shuffle-free narrow maps (modulo the presentation sort)") {
    for (q <- Seq("pii_scan", "pii_redact")) {
      val df = SparkEntry.queries(q)(spark, sf001)
      val exchanges = flatten(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.size <= 1, s"$q plans ${exchanges.size} shuffles")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(400))
    }
  }

  test("decontamination broadcasts the benchmark; corpus text rides no shuffle") {
    val df = SparkEntry.queries("contam_ngram")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastExchange"), plan.toString.take(600))
    flatten(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        "corpus text in a shuffle:\n" + e.toString.take(600))
    }
  }

  test("mix_temperature broadcasts rates onto the corpus; counts aggregate is the only pre-filter shuffle") {
    val df = SparkEntry.queries("mix_temperature")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(600))
    flatten(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        "corpus text in a shuffle:\n" + e.toString.take(600))
    }
  }

  test("lm_bigram_score shuffles gram counters only, never document text") {
    val df = SparkEntry.queries("lm_bigram_score")(spark, sf001)
    df.collect()
    flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        "document text in a shuffle:\n" + e.toString.take(600))
    }
  }

  test("range joins never plan a cartesian product; long outliers broadcast") {
    for (name <- Seq("range_join_events", "interval_overlap_orders",
        "dedup_neighbor_keys")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(800))
      // the bucketed branch is hash-equi-join work; the diverted long
      // intervals ride a BROADCAST nested loop (small side by
      // construction), never a shuffled one
      assert(p.contains("HashJoin"), s"$name:\n" + p.take(800))
      assert(!p.contains("ShuffledNestedLoop"), s"$name:\n" + p.take(800))
    }
  }

  test("unigram E-step shuffles piece counters only, never words or text") {
    val df = SparkEntry.queries("unigram_estep")(spark, sf001)
    df.collect()
    flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        "document text in a shuffle:\n" + e.toString.take(600))
    }
  }

  test("range_search: broadcast queries, one corpus scan, zero data shuffle") {
    val p = plan("range_search")
    // the radius filter rides the broadcast join condition — the corpus
    // never shuffles; the only exchanges are the query-side broadcast
    // and the presentation sort's range partitioning
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("Exchange hashpartitioning"),
      "corpus-side hash shuffle in range_search:\n" + p.take(1200))
    assert(!p.contains("Window"), p.take(800))
  }

  test("bm25: query terms broadcast onto postings; text never shuffles; top-k is group-limited") {
    val df = SparkEntry.queries("bm25_topk")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // candidate generation is a term-keyed broadcast hash join (the
    // query term list is serving-sized), never a cartesian scan
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // per-query top-k prunes BEFORE the qid exchange (WindowGroupLimit
    // Partial = a map-side rank-10 cut per partition)
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
      "no partial group-limit before the window exchange:\n" + p.take(1500))
    flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text") && !names.contains("qtext"),
        "document text in a bm25 shuffle:\n" + e.toString.take(600))
    }
  }

  test("bm25 serving from a loaded index: one broadcast probe, no doc-length join") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val dir = java.nio.file.Files.createTempDirectory("bm25plan").toString
    graft.operators.Retrieval.buildIndex(docs, "doc_id", "text").save(dir)
    val df = graft.operators.Retrieval.loadIndex(spark, dir)
      .searchTopK(qs, "qid", "qtext", k = 10)
    df.collect()
    val exchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // dl rides inside the postings (norm-in-posting), so serving has
    // exactly THREE row shuffles — the query-term distinct (QUERY-
    // sized), the per-(qid,doc) score combine, and the qid window —
    // never a doc-length or candidate×dl join, and no exchange
    // carries posting columns (tf/dl) or text
    assert(exchanges.size <= 3,
      s"${exchanges.size} shuffles in loaded-index serve:\n" +
        exchanges.map(_.toString.take(200)).mkString("\n"))
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(Set("tf", "dl", "text", "qtext")),
        "posting/text column in a serve shuffle:\n" + e.toString.take(400))
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("bm25 over BUCKETED postings: the score-combine exchange disappears") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val built = graft.operators.Retrieval.buildIndex(docs, "doc_id", "text")
    val want = built.searchTopK(qs, "qid", "qtext", k = 10)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("bm25bkt").toString
    built.saveBucketed("bm25_plan_postings", path, numBuckets = 4)
    val re = graft.operators.Retrieval.loadBucketedIndex(spark,
      "bm25_plan_postings", path)
    val df = re.searchTopK(qs, "qid", "qtext", k = 10)
    // identical ranking first
    assert(df.orderBy("qid", "rank").collect().map(_.toSeq).toSeq == want)
    val exchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // the bucketed scan's HashPartitioning(doc_id) satisfies the
    // (qid, doc_id) grouping, so the candidate-pair exchange is GONE:
    // only the query-term distinct and the rank-k-bounded qid window
    // shuffle remain (inspect the exchange NODE line only — toString
    // prints the whole subtree)
    val nodeLines = exchanges.map(_.toString.linesIterator.next())
    assert(!nodeLines.exists(_.contains("doc_id")),
      "score-combine exchange survived bucketing:\n" + nodeLines.mkString("\n"))
    assert(exchanges.size <= 2, nodeLines.mkString("\n"))
  }

  test("hybrid_loaded: bucketed combine stays exchange-free, probes broadcast") {
    val df = SparkEntry.queries("hybrid_loaded")(spark, sf001)
    df.collect()
    val exchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // the loaded compose must keep each tier's serving shape: the BM25
    // score combine rides the bucketed scan's HashPartitioning(doc_id)
    // — NO exchange may hash on doc_id (candidate-pair-sized when it
    // regresses); every remaining exchange is query- or rank-k-bounded
    val nodeLines = exchanges.map(_.toString.linesIterator.next())
    assert(!nodeLines.exists(_.contains("doc_id")),
      "bucketed score-combine exchange reappeared in the loaded hybrid:\n" +
        nodeLines.mkString("\n"))
    val p = df.queryExecution.executedPlan.toString
    // both probe joins broadcast (BM25 term probe + IVF cluster probe)
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // fusion is an equi-join on (qid, id), never a cartesian
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("bucketed-add lifecycle keeps the zero-exchange combine and 1-file buckets") {
    val df = SparkEntry.queries("bm25_bucketed_add")(spark, sf001)
    df.collect()
    val exchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    val nodeLines = exchanges.map(_.toString.linesIterator.next())
    assert(!nodeLines.exists(_.contains("doc_id")),
      "score-combine exchange survived the add+re-save:\n" +
        nodeLines.mkString("\n"))
    // ≤2 hash exchanges (query-term distinct + qid window); the third
    // is the lane's presentation orderBy (rangepartitioning)
    assert(nodeLines.count(_.contains("hashpartitioning")) <= 2,
      nodeLines.mkString("\n"))
    // the re-saved table still writes exactly one data file per bucket
    val loc = spark.sql("DESCRIBE TABLE EXTENDED bm25_bktadd_full")
      .filter(col("col_name") === "Location").head().getString(1)
    val files = new java.io.File(new java.net.URI(loc).getPath)
      .listFiles().filter(f => f.getName.startsWith("part-"))
    assert(files.length == 4,
      s"expected 4 bucket files, got ${files.map(_.getName).mkString(", ")}")
  }

  test("phrase serving from a bucketed positional index: anchor agg is exchange-free") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(graft.operators.TextOps.tokens(col("text")), 1, 3))
          .as("phrase"))
    val path = java.nio.file.Files.createTempDirectory("posbkt").toString
    val built = graft.operators.Retrieval.buildIndex(docs, "doc_id", "text",
      positional = true)
    built.saveBucketed("phrase_plan_postings", path, numBuckets = 4)
    built.unpersist()
    val re = graft.operators.Retrieval.loadBucketedIndex(spark,
      "phrase_plan_postings", path)
    val df = re.phraseSearchIndexed(qs, "qid", "phrase")
    df.collect()
    val exchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // the positional scan's HashPartitioning(doc_id) satisfies BOTH
    // groupings ((qid, doc_id, anchor) and (qid, doc_id)) — the whole
    // phrase serve plans ZERO row exchanges over a bucketed index
    assert(exchanges.isEmpty,
      "phrase serve over bucketed positions should be exchange-free:\n" +
        exchanges.map(_.toString.linesIterator.next()).mkString("\n"))
    // and the query side rides a broadcast onto the positional scan
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("dsir: ratio table broadcasts; corpus grams tokenize once and never re-shuffle text") {
    val df = SparkEntry.queries("dsir_weights")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the m-row quantized log-ratio table must ride a broadcast onto the
    // posting frame — a shuffle join here would repartition the corpus
    // postings by bucket for a 256-row table
    assert("BroadcastHashJoin \\[bucket".r.findFirstIn(p).isDefined, p.take(1500))
    // the per-doc weight aggregation is map-side partial
    assert(p.contains("partial_sum"), p.take(1200))
    // the raw corpus model re-reads the gram-bucket exchange via
    // ReuseExchange (one tokenize pass over the corpus, not two —
    // and, unlike the previous .persist(), no caller-leaked cache;
    // AQE prints the reuse as a ShuffleQueryStage marked "reuse")
    assert(flatten(df.queryExecution.executedPlan).exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec]
          || (n.toString.startsWith("ShuffleQueryStage")
              && n.toString.contains("reuse"))),
      "gram-bucket exchange not reused:\n" + p.take(1500))
    flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        "document text in a dsir shuffle:\n" + e.toString.take(600))
    }
  }
}
