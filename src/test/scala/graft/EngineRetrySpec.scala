package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.engine.{EngineConfig, ZebraEngine}

/** Retry/re-execution safety of D9 insertRecords (`ZebraEngine.scala`
  * read-back routing): the failure class it must prevent is SILENT INDEX
  * CORRUPTION — an index row minted by a second execution of the input
  * plan that matches no stored vector, surfacing later as missing/phantom
  * candidates at query time. Two hazards, one test each:
  *
  *  1. a task failure mid-write (cluster reality; the shared session runs
  *     `local[4, 2]` so the task gets the one retry a cluster would give);
  *  2. a non-deterministic input plan, where ANY re-execution (retry,
  *     speculation, or routing the index from the lazy plan instead of the
  *     written rows) yields different ids. The pre-read-back code routed
  *     from the lazy plan and fails the agreement assertion here.
  */
object EngineRetrySpec {
  // JVM-global: local-mode executor threads share the JVM with the suite,
  // so the injected-failure flag and the id nonce are visible both ways.
  val tripped = new AtomicBoolean(false)
  val nonce = new AtomicLong(0L)
}

class EngineRetrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val path = SparkTestBase.tmpDir("retry_engine")

  private lazy val emb = Tables.embeddings(spark, SparkTestBase.sf0001)
    .select(format_string("v%06d", col("vec_id")).as("id"), col("embedding"))
    .cache()

  private def freshIndexed(): ZebraEngine = {
    ZebraEngine.destroy(path)
    val eng = ZebraEngine.create(spark, path, EngineConfig(dim = 64))
    eng.insertRecords(emb.limit(400))
    eng.refreshIndex()
    eng
  }

  /** Index rows whose id matches no stored vector (phantoms). */
  private def phantomIndexRows(eng: ZebraEngine): Long =
    spark.read.parquet(s"$path/index").select("id").distinct()
      .join(eng.vectors.select("id"), Seq("id"), "left_anti").count()

  test("ingest survives an injected task failure: no dup rows, no index drift") {
    val eng = freshIndexed()
    EngineRetrySpec.tripped.set(false)
    val flakyOnce = udf { (e: Seq[Float]) =>
      if (!EngineRetrySpec.tripped.getAndSet(true))
        throw new RuntimeException("injected task failure (EngineRetrySpec)")
      e
    }.asNondeterministic()
    val batch = emb.filter(col("id").between("v000400", "v000449"))
      .select(concat(lit("new_"), col("id")).as("id"),
        flakyOnce(col("embedding")).as("embedding"))

    eng.insertRecords(batch)
    assert(EngineRetrySpec.tripped.get, "the injected failure never fired")

    // exactly-once append despite the failed attempt (committer atomicity)
    assert(eng.count() == 450)
    assert(eng.vectors.filter(col("id").startsWith("new_")).count() == 50)
    // the retried batch is fully indexed, with zero phantom entries
    val indexedNew = spark.read.parquet(s"$path/index")
      .filter(col("id").startsWith("new_")).select("id").distinct().count()
    assert(indexedNew == 50, s"only $indexedNew/50 new ids routed to the index")
    assert(phantomIndexRows(eng) == 0)

    // and the new rows are reachable through the indexed path
    val q = eng.vectors.filter(col("id") === "new_v000449")
      .select(col("id").as("query_id"), col("embedding"))
    val top1 = eng.queryVectors(q, k = 1).collect()
    assert(top1.length == 1 && top1.head.getAs[String]("id") == "new_v000449")
  }

  test("non-deterministic input plan cannot corrupt the index (re-execution hazard)") {
    val eng = freshIndexed()
    // every invocation mints a fresh id: a second execution of this plan
    // CANNOT reproduce the first one's ids. Index/vectors agreement then
    // holds only if the index was routed from the rows actually written.
    val volatileId = udf { () =>
      f"nd_${EngineRetrySpec.nonce.incrementAndGet()}%06d"
    }.asNondeterministic()
    val batch = emb.filter(col("id") < "v000040")
      .select(volatileId().as("id"), col("embedding"))

    eng.insertRecords(batch)

    assert(eng.count() == 440)
    val indexedNd = spark.read.parquet(s"$path/index")
      .filter(col("id").startsWith("nd_")).select("id").distinct().count()
    assert(indexedNd == 40, s"only $indexedNd/40 non-deterministic ids indexed")
    assert(phantomIndexRows(eng) == 0,
      "index contains ids from a re-execution of the input plan — " +
        "routing must read back the written batch (ZebraEngine read-back fix)")
  }
}
