package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.index.{DriverGate, IVFFlat, LSHForest}

/** [[DriverGate.bytesOf]], the size rule of every frame caller of the
  * driver gate, and the paths those callers take on a checkpointed
  * frame built from an RDD (the shape a caller that generates its
  * corpus on the driver and cuts its lineage hands in). */
class DriverGateSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
  }

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false))))

  /** `rows` parallelized into 4 partitions, as a frame with no size
    * estimate: a `LogicalRDD` leaf over an RDD nothing stores yet. */
  private def rddFrame(n: Int, dim: Int, seed: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows(n, dim, seed).map { case (id, v) => Row(id, v.toSeq) }, 4), schema)

  /** The stored bytes of the frame's one `LogicalRDD` leaf. */
  private def storedBytes(df: DataFrame): Long = {
    val rdd = df.queryExecution.optimizedPlan.collectLeaves().collect { case r: LogicalRDD => r.rdd }
    assert(rdd.length == 1)
    val info = spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.head.id)
    assert(info.length == 1 && info.head.numCachedPartitions == 4)
    info.head.memSize + info.head.diskSize
  }

  private def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("bytesOf: an eager localCheckpoint of an RDD-built frame reports its stored bytes") {
    val df = rddFrame(600, 16, 1).localCheckpoint(true)
    assert(estimate(df) >= spark.sessionState.conf.defaultSizeInBytes, "the plan has an estimate")
    val stored = storedBytes(df)
    assert(stored > 600L * 16 * 4)
    assert(DriverGate.bytesOf(df).contains(stored))
    // a projection of it reads the same leaf, and so the same bytes
    assert(DriverGate.bytesOf(df.select($"id", $"vector")).contains(stored))
  }

  test("bytesOf: a reliable checkpoint is sized by its files") {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("gate-ckpt").toString)
    val df = rddFrame(300, 8, 10).checkpoint(true)
    assert(DriverGate.bytesOf(df).exists(_ > 300L * 8 * 4))
  }

  test("bytesOf: a persisted and filled frame, and a plan with an estimate, are sized") {
    val cached = rddFrame(200, 8, 2).persist()
    cached.count()
    assert(DriverGate.bytesOf(cached).exists(_ > 0L))
    cached.unpersist()
    val local = rows(50, 8, 3).toDF("id", "vector")
    assert(DriverGate.bytesOf(local).contains(estimate(local).toLong))
  }

  test("bytesOf: a lazy checkpoint, an unstored RDD frame and parallelize(...).toDF stay unknown") {
    val lazyCkpt = rddFrame(200, 8, 4).localCheckpoint(false)
    assert(DriverGate.bytesOf(lazyCkpt).isEmpty)
    val unstored = rddFrame(200, 8, 5)
    assert(unstored.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    assert(DriverGate.bytesOf(unstored).isEmpty)
    val plain = spark.sparkContext.parallelize(rows(200, 8, 6), 4).toDF("id", "vector")
    assert(DriverGate.bytesOf(plain).isEmpty)
  }

  test("IVFFlat.build on a checkpointed RDD frame trains on the driver in at most one job") {
    val df = rddFrame(2000, 16, 7).localCheckpoint(true)
    var m: IVFFlat.Model = null
    assert(jobsOf { m = IVFFlat.build(df, "id", "vector", IVFFlat.Params(k = 8)) } <= 1)
    assert(m.clusterSizes.sum == 2000L)
    m.indexed.unpersist()
  }

  test("a -1 budget sends every frame caller to its distributed path") {
    val df = rddFrame(1500, 8, 8).localCheckpoint(true)
    val lsh = LSHForest.Params(numTrees = 2, maxNodeSize = 128)
    // the default budget: each takes its driver path
    assert(jobsOf(IVFFlat.build(df, "id", "vector", IVFFlat.Params(k = 8)).indexed.unpersist()) <= 1)
    assert(jobsOf(LSHForest.build(df, "id", "vector", lsh).cool()) <= 2)
    withBudget("-1") {
      assert(jobsOf(IVFFlat.build(df, "id", "vector", IVFFlat.Params(k = 8)).indexed.unpersist()) > 1)
      assert(jobsOf(LSHForest.build(df, "id", "vector", lsh).cool()) > 2)
    }
    // knnJoin: a routed query side answers with a local frame, the
    // distributed one plans the probe join
    val model = IVFFlat.build(df, "id", "vector", IVFFlat.Params(k = 8))
    val queries = rddFrame(20, 8, 9).localCheckpoint(true)
    def planned(out: DataFrame): Boolean =
      out.queryExecution.analyzed.collectFirst { case j: Join => j }.isDefined
    assert(!planned(model.knnJoin(queries, "id", "vector", k = 5)))
    assert(withBudget("-1")(planned(model.knnJoin(queries, "id", "vector", k = 5))))
    model.indexed.unpersist()
  }
}
