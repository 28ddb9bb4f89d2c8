package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.VectorOps.normalizeF
import graft.index.DriverGate

/** fastText `.vec` text-format source — the reference's only input format
  * (`vers/src/utils.rs:7-66`): one header line `n dim`, then per line
  * `word f1 … fdim` whitespace-separated. Reproduces the loader's
  * semantics: every vector is L2-normalized on load (utils.rs:48), an
  * optional holdout word is diverted to a separate frame instead of the
  * corpus (utils.rs:38-42, the "queen" test), and ids are dense 0..n−1 in
  * file order (utils.rs:44-47).
  *
  * Two paths, one parse rule ([[parse]]: split, trim, slice, cast,
  * normalize, the header and short-line filter, the holdout flag):
  *  - DRIVER, for one uncompressed file whose length passes the shared
  *    gate ([[DriverGate]]: within `spark.sql.autoBroadcastJoinThreshold`
  *    and [[maxDriverBytes]]). The driver reads the lines (LF, CR or
  *    CRLF ends, as Hadoop's line reader splits them), runs the parse
  *    over a `LocalRelation` of them, which Spark's optimizer evaluates
  *    on the driver, and splits the rows into corpus and holdout in one
  *    driver loop that stamps the corpus ids in file order. No job runs
  *    and nothing is cached: the corpus and holdout are local frames,
  *    and [[Loaded.unpersist]] is a no-op.
  *  - DISTRIBUTED, for a directory, a glob, a compressed file, a larger
  *    file, or a budget of `-1`. `zipWithIndex` runs one per-split line
  *    count, prefix-sums the counts on the driver, and stamps ids in a
  *    narrow map — no single-partition window, no global sort, so an
  *    arbitrarily large `.vec` file loads at full parallelism (text
  *    splits are offset-ordered and narrow ops preserve per-split row
  *    order, so the index IS the file order, deterministically). The
  *    parse lineage is persisted (MEMORY_AND_DISK) around
  *    `zipWithIndex`, whose count job would otherwise run it twice (r8
  *    ADVICE); call [[Loaded.unpersist]] once the corpus is
  *    materialized downstream.
  * Both paths give the same rows under the same schema (the test-scope
  * `VecFileSpec` pins ids, words, vector bits and nullability), and a
  * malformed token fails the same cast error on both: at read on the
  * driver path, at the first action on the distributed one.
  *
  * Order contract: "file order" is guaranteed for a SINGLE file path
  * (splits of one file are offset-ordered). For a directory or glob,
  * ids are dense over Spark's file-enumeration order — stable for a
  * fixed listing, but the concatenation order across files is the
  * enumerator's, not the caller's (pass one file when ids must equal
  * line numbers, the reference's contract — utils.rs loads one file).
  */
object VecFile {

  case class Loaded(corpus: DataFrame /* id, word, vector */,
                    holdout: DataFrame /* word, vector */,
                    private val cached: Option[org.apache.spark.rdd.RDD[Row]]) {
    /** Release the parse cache of a distributed read once the corpus has
      * been materialized (written, checkpointed, or indexed) downstream.
      * A driver read holds no cache. */
    def unpersist(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** Largest file the driver reads whatever the broadcast budget: the
    * driver holds its lines and the parsed rows at once. */
  private[graft] val maxDriverBytes: Long = 64L << 20

  def read(spark: SparkSession, path: String,
           holdoutWord: Option[String] = None): Loaded =
    driverLines(spark, path) match {
      case Some(lines) => readOnDriver(spark, lines, holdoutWord)
      case None => readDistributed(spark, path, holdoutWord)
    }

  /** (word, vector, holdout) rows of the `value` lines that hold a word
    * and at least two numbers (drops the `n dim` header and blank
    * lines): the rule both paths run. `holdout` is true for the holdout
    * word's rows, false for the corpus's. */
  private def parse(lines: DataFrame, holdoutWord: Option[String]): DataFrame =
    lines
      .withColumn("parts", split(trim(col("value")), "\\s+"))
      .filter(size(col("parts")) > 2) // drops the `n dim` header line
      .select(col("parts").getItem(0).as("word"),
        normalizeF(expr("slice(parts, 2, size(parts) - 1)").cast("array<float>"))
          .as("vector"))
      .withColumn("holdout", holdoutWord.fold(lit(false))(col("word") === _))

  private def corpusSchema(parsed: DataFrame): StructType =
    StructType(StructField("id", LongType, nullable = false) +:
      parsed.drop("holdout").schema.fields)

  /** The lines of `path` when it is one uncompressed file that passes
    * the driver gate; None sends the read down the distributed path. */
  private def driverLines(spark: SparkSession, path: String): Option[Seq[String]] = {
    val budget = DriverGate.budget(spark)
    if (budget < 0 || path.exists("*?[]{}\\".contains(_))) return None
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = scala.util.Try(fs.getFileStatus(p)).toOption
      .filter(st => st.isFile && DriverGate.fits(st.getLen, budget, maxDriverBytes))
    if (file.isEmpty || new CompressionCodecFactory(conf).getCodec(p) != null) None
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try Some(Iterator.continually(in.readLine()).takeWhile(_ != null).toVector)
      finally in.close()
    }
  }

  private def readOnDriver(spark: SparkSession, lines: Seq[String],
                           holdoutWord: Option[String]): Loaded = {
    val text = spark.createDataFrame(lines.map(Row(_)).asJava,
      StructType(Seq(StructField("value", StringType))))
    val parsed = parse(text, holdoutWord)
    // over a LocalRelation the optimizer evaluates the parse, once for
    // both frames: read its rows from the optimized plan, which launches
    // no job and generates no projection class (collect would generate
    // two, each a codegen-cache entry that every call keeps alive)
    val rows = parsed.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val toRow = CatalystTypeConverters.createToScalaConverter(parsed.schema)
        l.data.map(toRow(_).asInstanceOf[Row])
      case _ => parsed.collect().toSeq
    }
    val kept = new java.util.ArrayList[Row]()
    val held = new java.util.ArrayList[Row]()
    rows.foreach { r =>
      r(2) match {
        case true => held.add(Row(r(0), r(1)))
        case false => kept.add(Row(kept.size.toLong, r(0), r(1)))
        case _ => // a null flag: in neither frame, as on the distributed path
      }
    }
    Loaded(spark.createDataFrame(kept, corpusSchema(parsed)),
      spark.createDataFrame(held, parsed.drop("holdout").schema), None)
  }

  private def readDistributed(spark: SparkSession, path: String,
                              holdoutWord: Option[String]): Loaded = {
    val parsed = parse(spark.read.text(path), holdoutWord)
    val keptRdd = parsed.filter(!col("holdout")).drop("holdout").rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = spark.createDataFrame(
      keptRdd.zipWithIndex().map { case (r, i) => Row.fromSeq(i +: r.toSeq) },
      corpusSchema(parsed))
    Loaded(corpus, parsed.filter(col("holdout")).drop("holdout"), Some(keptRdd))
  }
}
