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
