package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.embed.HashingTextEmbedder
import graft.engine.{EngineConfig, ZebraEngine}

/** Engine-level hybrid retrieval (queryHybrid = BM25 leg over the stored
  * documents + vector ANN leg + reciprocal-rank fusion): self-retrieval,
  * fused-score arithmetic, ordering, and leg bounding. The leg-wise
  * building blocks are hash-checked in the catalog (text_bm25_topk,
  * hybrid_rrf_topk); this gates their composition over the ENGINE's own
  * tables (string ids, binary documents). */
class HybridRetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val path = SparkTestBase.tmpDir("test_hybrid_engine")
  private val embedder = HashingTextEmbedder()

  private lazy val eng: ZebraEngine = {
    ZebraEngine.destroy(path)
    val e = ZebraEngine.create(
      spark, path, EngineConfig(dim = 384, metric = "cosine"))
    val docs = Tables.documents(spark, SparkTestBase.sf0001)
      .select(
        format_string("d%06d", col("doc_id")).as("id"),
        col("text").cast("binary").as("document"))
    e.insertDocuments(docs, embedder)
    e
  }

  test("queryHybrid: self-retrieval tops the fusion, scores are exact RRF") {
    val probe = Tables.documents(spark, SparkTestBase.sf0001)
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    val res = eng.queryHybrid(probe, embedder, k = 10, legK = 50).collect()

    assert(res.nonEmpty && res.length <= 10)
    assert(res.head.schema.fieldNames.toSeq ==
      Seq("id", "r_vec", "r_lex", "rrf_1e6"))

    // The probed document embeds to an identical vector (dist 0, smallest
    // id) so its vector rank is 1; it must surface in the fused top-k.
    val self = res.find(_.getAs[String]("id") == "d000000")
    assert(self.isDefined, "query document missing from fused top-k")
    assert(self.get.getAs[Long]("r_vec") == 1L)

    // Exact fused-score arithmetic: rrf_1e6 = sum over present legs of
    // 1e6 div (60 + rank); absent legs contribute 0 (rank stored as 0).
    res.foreach { r =>
      def leg(rank: Long): Long = if (rank == 0L) 0L else 1000000L / (60L + rank)
      assert(r.getAs[Long]("rrf_1e6") ==
        leg(r.getAs[Long]("r_vec")) + leg(r.getAs[Long]("r_lex")),
        s"rrf mismatch at ${r.getAs[String]("id")}")
    }

    // Ordered by fused score desc, id asc; ranks bounded by legK.
    val scores = res.map(r => (-r.getAs[Long]("rrf_1e6"), r.getAs[String]("id")))
    assert(scores.sameElements(scores.sorted), "fusion ordering violated")
    res.foreach { r =>
      assert(r.getAs[Long]("r_vec") <= 50L && r.getAs[Long]("r_lex") <= 50L)
    }
  }

  test("queryHybrid: a lexical-only match still surfaces via the BM25 leg") {
    // Terms drawn from doc 1's text but embedded queries of doc 0's text
    // would rank it low on the vector side; query with doc 1's own text
    // and assert the fused list contains it (both legs agree here — the
    // robustness point is that fusion never drops a leg's strong hit).
    val probe = Tables.documents(spark, SparkTestBase.sf0001)
      .filter(col("doc_id") === 1).select("text").head().getString(0)
    val res = eng.queryHybrid(probe, embedder, k = 10, legK = 50).collect()
    assert(res.exists(_.getAs[String]("id") == "d000001"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] =
    df.select("id", "r_vec", "r_lex", "rrf_1e6").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (-t._4, t._1))

  test("queryHybridBatch: a multi-query batch equals per-query queryHybrid") {
    val spark0 = spark
    import spark0.implicits._
    val texts = Seq("spark join window", "hash merge sort", "value table row")
    val queries = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "query_text")
    // Exhaustive budget so both forms are deterministic exact search and
    // the equality is algebraic, not probabilistic.
    val batch = eng.queryHybridBatch(queries, embedder, k = 10, legK = 50,
        searchK = Some(Int.MaxValue))
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(batch.keySet == Set(0L, 1L, 2L))
    texts.zipWithIndex.foreach { case (t, i) =>
      val single = rows(eng.queryHybrid(t, embedder, k = 10, legK = 50,
        searchK = Some(Int.MaxValue)))
      val fromBatch = batch(i.toLong).toSeq
        .map(r => (r.getAs[String]("id"), r.getAs[Long]("r_vec"),
          r.getAs[Long]("r_lex"), r.getAs[Long]("rrf_1e6")))
        .sortBy(x => (-x._4, x._1))
      assert(fromBatch == single, s"batch/per-query divergence for '$t'")
    }
  }

  test("filtered hybrid at exhaustive budget equals hybrid over the pre-filtered corpus") {
    val cut = "d000020"
    val probe = "spark join window"
    val filtered = rows(eng.queryHybrid(probe, embedder, k = 10, legK = 50,
      searchK = Some(Int.MaxValue),
      where = Some(col("id") < cut)))

    // A second engine built from ONLY the surviving documents: the where=
    // contract says corpus statistics (dl, df, N) and both rankings are
    // those of the filtered corpus, so the two engines must agree exactly.
    val path2 = SparkTestBase.tmpDir("test_hybrid_engine_prefiltered")
    ZebraEngine.destroy(path2)
    val e2 = ZebraEngine.create(
      spark, path2, EngineConfig(dim = 384, metric = "cosine"))
    e2.insertDocuments(
      Tables.documents(spark, SparkTestBase.sf0001)
        .select(
          format_string("d%06d", col("doc_id")).as("id"),
          col("text").cast("binary").as("document"))
        .filter(col("id") < cut),
      embedder)
    val prefiltered = rows(e2.queryHybrid(probe, embedder, k = 10, legK = 50,
      searchK = Some(Int.MaxValue)))
    assert(filtered == prefiltered,
      "where= hybrid diverged from the pre-filtered-corpus engine")
    assert(filtered.forall(_._1 < cut), "filtered hybrid leaked an excluded id")
  }
}
