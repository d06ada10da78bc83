package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.{Pq, SimSearch}

/** Product-quantization gates: deterministic training/encoding, the 8-byte
  * code contract, exactness of the exhaustive-rerank twin, and that a
  * small ADC shortlist recovers most of exact top-k (the production
  * recall/latency trade this operator exists for). */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sf0001

  private lazy val e = Tables.embeddings(spark, dir)
  private lazy val model = Pq.train(e, m = 8, ksub = 256)
  private lazy val codes = Pq.encode(e, model).cache()
  private lazy val queries = e.filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding"))

  test("training is deterministic and codes honor the (m, ksub) contract") {
    val model2 = Pq.train(e, m = 8, ksub = 256)
    assert(model.codebooks.flatMap(_.flatMap(_.toSeq)).toSeq ==
      model2.codebooks.flatMap(_.flatMap(_.toSeq)).toSeq)
    val rows = codes.collect()
    assert(rows.length == e.count())
    rows.foreach { r =>
      val c = r.getAs[Array[Byte]]("codes")
      assert(c.length == 8) // 32x smaller than 64 floats
      assert(c.forall(b => (b & 0xff) < 256))
    }
  }

  test("exhaustive rerank budget degenerates to exact kNN") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(SimSearch.exactTopK(queries, e, k = 10))
    val pq = key(Pq.topK(queries, codes, e, model, k = 10, rerank = Int.MaxValue))
    assert(pq == exact)
  }

  test("IVF-PQ: both budgets exhaustive degenerates to exact kNN; probed is close") {
    import graft.ops.IvfPq
    val model = IvfPq.train(e, nlist = 16)
    val path = SparkTestBase.tmpDir("test_ivfpq")
    IvfPq.buildIndex(e, model, path)
    val index = IvfPq.loadIndex(spark, path)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = SimSearch.exactTopK(queries, e, k = 10)
    val full = IvfPq.topK(queries, index, e, model,
      k = 10, nprobe = 16, rerank = Int.MaxValue)
    assert(key(full) == key(exact))
    val probed = IvfPq.topK(queries, index, e, model,
      k = 10, nprobe = 12, rerank = 50)
    assert(SimSearch.recallAtK(probed, exact) >= 0.5)
  }

  test("a 10% ADC shortlist recovers most of exact top-10") {
    val exact = SimSearch.exactTopK(queries, e, k = 10)
    val shortlisted = Pq.topK(queries, codes, e, model, k = 10, rerank = 50)
    val recall = SimSearch.recallAtK(shortlisted, exact)
    // The fixture's vectors are UNIFORM random — the worst case for a
    // product quantizer (no cluster structure to spend the codebook on).
    // Clustered corpora, the realistic case, are measured in
    // tools/ScaleProbe's PQ leg; this gate just pins the floor.
    assert(recall >= 0.6, s"recall@10 with rerank=50/500 was $recall")
  }
}
