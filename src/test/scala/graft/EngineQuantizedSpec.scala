package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.engine.{EngineConfig, ZebraEngine}
import graft.ops.SimSearch

/** The COMPRESSED-SCAN engine tiers (indexKind = "sq8" / "pq", VERDICT r13
  * ask 7): same lifecycle contract as the LSH/IVF-PQ kinds — insert →
  * index → query → incremental add with FROZEN quantizers → remove →
  * reopen — gated by the exhaustive-budget-equals-exact property, filtered
  * parity, and codes-table shape (the 100 TB memory claim: the scan is
  * over codes, raw vectors touched only for the shortlist rerank). */
class EngineQuantizedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sf0001

  private def build(kind: String): ZebraEngine = {
    val path = SparkTestBase.tmpDir(s"test_engine_$kind")
    ZebraEngine.destroy(path)
    val e = ZebraEngine.create(
      spark, path, EngineConfig(dim = 64, indexKind = kind))
    e.insertRecords(Tables.embeddings(spark, dir)
      .select(format_string("v%06d", col("vec_id")).as("id"), col("embedding")))
    e.refreshIndex()
    e
  }
  private lazy val sq = build("sq8")
  private lazy val pq = build("pq")

  private def queries(n: Int) = Tables.embeddings(spark, dir)
    .filter(col("vec_id") < n)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "id", "dist").collect()
    .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  for ((kind, eng) <- Seq("sq8" -> (() => sq), "pq" -> (() => pq))) {
    test(s"$kind: full budget through the codes index equals exact kNN") {
      val exact = SimSearch.exactTopK(
        queries(5), eng().vectors, k = 10, vecId = "id")
      assert(key(eng().queryVectors(queries(5), k = 10,
        searchK = Some(Int.MaxValue))) == key(exact))
    }

    test(s"$kind: filtered full-budget search equals exact kNN of the " +
        "filtered corpus") {
      val pred = col("id").substr(2, 6).cast("long") % 3 === 0
      val exact = SimSearch.exactTopK(
        queries(4), eng().vectors.filter(pred), k = 5, vecId = "id")
      assert(key(eng().queryVectors(queries(4), k = 5,
        searchK = Some(Int.MaxValue), where = Some(pred))) == key(exact))
    }

    test(s"$kind: incremental add encodes through the FROZEN quantizer " +
        "(I7's shape)") {
      val extra = Tables.embeddings(spark, dir).filter(col("vec_id") < 3)
        .select(format_string("x%06d", col("vec_id")).as("id"), col("embedding"))
      eng().insertRecords(extra)
      val hits = eng().queryVectors(queries(3), k = 2,
        searchK = Some(Int.MaxValue))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      // each query's duplicate pair (v, x copies of itself) is its top-2 at 0
      (0L until 3L).foreach { q =>
        val top = hits.filter(_._1 == q)
        assert(top.map(_._2).toSet == Set(f"v$q%06d", f"x$q%06d"), top.toSeq)
        assert(top.forall(_._3 == 0.0))
      }
    }

    test(s"$kind: remove rewrites the flat codes table") {
      eng().remove(spark.range(3).select(
        format_string("x%06d", col("id")).as("id")))
      val after = eng().queryVectors(queries(3), k = 1,
        searchK = Some(Int.MaxValue))
        .collect().map(r => r.getString(1)).toSet
      assert(after == (0 until 3).map(i => f"v$i%06d").toSet)
    }

    test(s"$kind: reopen restores the kind and serves identically") {
      val reopened = ZebraEngine.open(spark, eng().path)
      assert(reopened.config.indexKind == kind)
      assert(key(reopened.queryVectors(queries(3), k = 5,
        searchK = Some(Int.MaxValue))) ==
        key(eng().queryVectors(queries(3), k = 5,
          searchK = Some(Int.MaxValue))))
    }
  }

  test("sq8: the index holds CODES, not vectors (the 4x memory claim), " +
      "and default-budget serving returns k hits per query") {
    val cols = spark.read.parquet(s"${sq.path}/index").columns.toSet
    assert(cols == Set("id", "codes"), cols)
    val got = sq.queryVectors(queries(5), k = 10)
    assert(got.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 10L))
  }

  test("sq8: frozen bounds stay linearly exact for OUT-OF-RANGE inserts " +
      "(drift costs step size, never shortlist correctness)") {
    // a vector far outside the trained [min, max] still reconstructs to
    // within one quantization step, so its own query finds it at top-1
    import spark.implicits._
    val big = Seq(("z000001", Array.fill(64)(50.0f)))
      .toDF("id", "embedding")
    sq.insertRecords(big)
    val q = Seq((99L, Array.fill(64)(50.0f))).toDF("query_id", "embedding")
    val top = sq.queryVectors(q, k = 1).collect()
    assert(top.length == 1 && top.head.getString(1) == "z000001", top.toSeq)
  }
}
