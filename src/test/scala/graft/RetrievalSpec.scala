package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.RetrievalQueries

/** Semantic gates on the retrieval family beyond DuckDB parity: ranking
  * invariants, fusion arithmetic, and determinism. */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sf0001

  private lazy val bm25 = RetrievalQueries.bm25.run(spark, dir).collect()
  private lazy val fused = RetrievalQueries.hybridRrf.run(spark, dir).collect()

  test("bm25 top-k is strictly rank-ordered, scores positive and descending") {
    assert(bm25.nonEmpty && bm25.length <= 10)
    val ranks = bm25.map(_.getAs[Long]("rk"))
    assert(ranks.toSeq == (1L to bm25.length).toSeq)
    val scores = bm25.map(_.getAs[Long]("bm25_1e4"))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // Ties must break ascending on doc_id.
    bm25.sliding(2).foreach { w =>
      if (w.length == 2 && w(0).getAs[Long]("bm25_1e4") == w(1).getAs[Long]("bm25_1e4"))
        assert(w(0).getAs[Long]("doc_id") < w(1).getAs[Long]("doc_id"))
    }
  }

  test("rrf fusion value equals the integer formula over its leg ranks") {
    assert(fused.nonEmpty && fused.length <= 10)
    fused.foreach { r =>
      val (rb, rv) = (r.getAs[Long]("r_bm25"), r.getAs[Long]("r_vec"))
      assert(rb > 0 || rv > 0, "doc retrieved by neither leg")
      val expect = (if (rv > 0) 1000000L / (60 + rv) else 0L) +
        (if (rb > 0) 1000000L / (60 + rb) else 0L)
      assert(r.getAs[Long]("rrf_1e6") == expect)
    }
  }

  test("a doc ranked #1 by both legs would dominate: fused head beats tails") {
    val scores = fused.map(_.getAs[Long]("rrf_1e6"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("retrieval is deterministic across executions") {
    val again = RetrievalQueries.bm25.run(spark, dir).collect()
    assert(bm25.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("maintained postings: epochs append, replay no-ops, serving == batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val store = SparkTestBase.tmpDir("postings")
    val docs = Seq(
      (1L, "spark joins a window"), (2L, "window window spark"),
      (3L, "nothing relevant here"), (4L, "spark alone"))
      .toDF("doc_id", "text")
    graft.ops.Retrieval.applyPostingsBatch(docs.filter(col("doc_id") <= 2), 0L, store)
    graft.ops.Retrieval.applyPostingsBatch(docs.filter(col("doc_id") > 2), 1L, store)
    // a replayed epoch with different content must be ignored
    graft.ops.Retrieval.applyPostingsBatch(
      Seq((99L, "spark spark spark")).toDF("doc_id", "text"), 0L, store)
    val served = graft.ops.Retrieval.bm25TopKFromPostings[Long](
      graft.ops.Retrieval.currentPostings(spark, store).get,
      Seq("spark", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = graft.ops.Retrieval.bm25TopK[Long](
      docs, Seq("spark", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served.toSeq == batch.toSeq,
      s"maintained index diverged from rebuild: ${served.toSeq} vs ${batch.toSeq}")
    assert(!served.exists(_._1 == 99L), "replayed epoch content leaked in")

    // LSM compaction: one partition set, same ranking, manifests remember
    def serve() = graft.ops.Retrieval.bm25TopKFromPostings[Long](
      graft.ops.Retrieval.currentPostings(spark, store).get,
      Seq("spark", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(graft.ops.Retrieval.compactPostings(spark, store))
    assert(serve() == batch.toSeq, "compaction changed the ranking")
    assert(!graft.ops.Retrieval.compactPostings(spark, store),
      "single-epoch store must not re-compact")
    // a replayed SUPERSEDED epoch id must still no-op (its dir survives
    // one retention cycle, then only the manifest remembers it — the
    // double-compaction case below exercises the manifest-only path)
    graft.ops.Retrieval.applyPostingsBatch(
      Seq((98L, "spark spark")).toDF("doc_id", "text"), 1L, store)
    assert(serve() == batch.toSeq, "superseded epoch replay re-applied")
    // append after compaction, compact AGAIN (GC removes the first compact
    // dir) — transitively-carried manifests must still block epoch 0
    graft.ops.Retrieval.applyPostingsBatch(
      Seq((5L, "window seat")).toDF("doc_id", "text"), 2L, store)
    assert(graft.ops.Retrieval.compactPostings(spark, store))
    graft.ops.Retrieval.applyPostingsBatch(
      Seq((97L, "window window")).toDF("doc_id", "text"), 0L, store)
    val expect = graft.ops.Retrieval.bm25TopK[Long](
      docs.unionAll(Seq((5L, "window seat")).toDF("doc_id", "text")),
      Seq("spark", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(serve() == expect, "ancient epoch id re-applied after double compaction")
  }
}
