package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.engine.{EngineConfig, ZebraEngine}
import graft.ops.SimSearch

/** The pluggable-index engine: the SAME lifecycle contract (insert → index
  * → query → incremental add → remove) under indexKind = "ivfpq", gated by
  * the exhaustive-budget-equals-exact property and metadata round-trips. */
class EngineIvfPqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sf0001
  private val path = SparkTestBase.tmpDir("test_engine_ivfpq")

  private lazy val eng: ZebraEngine = {
    ZebraEngine.destroy(path)
    val e = ZebraEngine.create(
      spark, path, EngineConfig(dim = 64, indexKind = "ivfpq"))
    e.insertRecords(Tables.embeddings(spark, dir)
      .select(format_string("v%06d", col("vec_id")).as("id"), col("embedding")))
    e.refreshIndex()
    e
  }

  private def queries(n: Int) = Tables.embeddings(spark, dir)
    .filter(col("vec_id") < n)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "id", "dist").collect()
    .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("full budget through the IVF-PQ index equals exact kNN") {
    val exact = SimSearch.exactTopK(
      queries(5), eng.vectors, k = 10, vecId = "id")
    assert(key(eng.queryVectors(queries(5), k = 10,
      searchK = Some(Int.MaxValue))) == key(exact))
  }

  test("incremental add routes through the existing quantizers (I7)") {
    val extra = Tables.embeddings(spark, dir).filter(col("vec_id") < 3)
      .select(format_string("x%06d", col("vec_id")).as("id"), col("embedding"))
    eng.insertRecords(extra)
    val hits = eng.queryVectors(queries(3), k = 2, searchK = Some(Int.MaxValue))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // each query's duplicate pair (v, x copies of itself) is its top-2 at 0
    (0L until 3L).foreach { q =>
      val top = hits.filter(_._1 == q)
      assert(top.map(_._2).toSet == Set(f"v$q%06d", f"x$q%06d"), top.toSeq)
      assert(top.forall(_._3 == 0.0))
    }
  }

  test("remove rewrites the codes index (cell-partitioned)") {
    eng.remove(spark.range(3).select(
      format_string("x%06d", col("id")).as("id")))
    val after = eng.queryVectors(queries(3), k = 1, searchK = Some(Int.MaxValue))
      .collect().map(r => r.getString(1)).toSet
    assert(after == (0 until 3).map(i => f"v$i%06d").toSet)
  }

  test("STRING query ids flow through the ADC path at default budgets") {
    // The engine mints string ids itself ("v%012d"), so a user querying by
    // stored records hits this immediately — the first cut cast the query
    // id to BIGINT inside the ADC lookup-table keying and threw
    // CAST_INVALID_INPUT on any non-numeric id (found by the 1.6M scale
    // probe, whose synthetic ids are "v0", "v1", ...).
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < 3)
      .select(format_string("v%06d", col("vec_id")).as("query_id"),
        col("embedding"))
    val top1 = eng.queryVectors(q, k = 1).collect()
    assert(top1.length == 3)
    top1.foreach { r =>
      assert(r.getString(0) == r.getString(1), r) // self at top-1
      assert(r.getDouble(2) == 0.0)
    }
  }

  test("staleness retrain: maintainIvfPqIfNeeded fires at 4x growth, not before") {
    val p2 = SparkTestBase.tmpDir("test_engine_ivfpq_stale")
    ZebraEngine.destroy(p2)
    val e = ZebraEngine.create(
      spark, p2, EngineConfig(dim = 16, indexKind = "ivfpq"))
    def synth(from: Long, until: Long) = spark.range(from, until).select(
      format_string("s%06d", col("id")).as("id"),
      transform(sequence(lit(0), lit(15)),
        j => (pmod(xxhash64(col("id"), j), lit(1000)) / lit(500.0) - 1.0)
          .cast("float")).as("embedding"))
    e.insertRecords(synth(0, 200))
    e.refreshIndex()
    val m0 = e.ivfPqModel.get
    assert(m0.trainedOn == 200L, "train must stamp the fit-time corpus size")
    assert(!e.maintainIvfPqIfNeeded(), "fresh index must not retrain")

    // 2x growth: frozen quantizers still within budget — no retrain.
    e.insertRecords(synth(200, 400))
    assert(!e.maintainIvfPqIfNeeded(), "2x growth must not cross the 4x bar")

    // 4x growth: the trigger fires, re-choosing nlist for today's corpus
    // and refitting both quantizers on it.
    e.insertRecords(synth(400, 800))
    assert(e.maintainIvfPqIfNeeded(), "4x growth must retrain")
    val m1 = e.ivfPqModel.get
    assert(m1.trainedOn == 800L, "retrain must re-stamp the corpus size")
    assert(m1.coarse.nlist > m0.coarse.nlist,
      s"nlist must track sqrt(n): ${m0.coarse.nlist} -> ${m1.coarse.nlist}")

    // The rebuilt index serves: every query's top-1 at default budgets is
    // itself, across old and new regions of the corpus.
    val q = synth(0, 3).union(synth(700, 703))
      .select(col("id").as("query_id"), col("embedding"))
    val top1 = e.queryVectors(q, k = 1).collect()
    assert(top1.length == 6)
    top1.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("metadata round-trips the index kind; legacy metadata reads as lsh") {
    val reopened = ZebraEngine.open(spark, path)
    assert(reopened.config.indexKind == "ivfpq")
    val legacy = SparkTestBase.tmpDir("test_engine_legacy")
    ZebraEngine.destroy(legacy)
    ZebraEngine.create(spark, legacy, EngineConfig(dim = 8))
    // strip index_kind from the metadata as a pre-pluggability file would be
    val p = java.nio.file.Paths.get(legacy, "zebra.json")
    val json = new String(java.nio.file.Files.readAllBytes(p))
    java.nio.file.Files.write(p,
      json.replaceAll(""",\s*"index_kind"\s*:\s*"[^"]*"""", "").getBytes)
    assert(ZebraEngine.open(spark, legacy).config.indexKind == "lsh")
  }
}
