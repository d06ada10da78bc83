package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.embed.HashingTextEmbedder
import graft.engine.{EngineConfig, ZebraEngine}
import graft.functions.Distances
import graft.ops.SimSearch

/** Embedder contracts (SURVEY.md §5.5): determinism, unit norm, and
  * end-to-end document self-retrieval through the engine (the reference's
  * insert-then-query CLI parity check). */
class EmbedderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val embedder = HashingTextEmbedder()

  test("deterministic: same text embeds to the same 384-d unit vector") {
    val texts = Seq("the quick brown fox", "pack my box with five dozen jugs",
      "the quick brown fox", "")
    val v = texts.map(embedder.embedText)
    assert(v.forall(_.length == 384))
    assert(v(0).sameElements(v(2)))
    assert(!v(0).sameElements(v(1)))
    // unit norm (zero vector for empty text)
    def norm(a: Array[Float]): Double = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm(v(0)) - 1.0) < 1e-5)
    assert(norm(v(3)) == 0.0)
  }

  test("shared vocabulary pulls vectors together under cosine") {
    val a = embedder.embedText("spark catalyst optimizer pushes filters down")
    val b = embedder.embedText("spark catalyst optimizer prunes columns early")
    val c = embedder.embedText("yak butter tea recipe from the himalayas")
    def cos(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    assert(cos(a, b) > cos(a, c))
  }

  test("DataFrame embed: column output matches local embedText") {
    val df = Seq((1L, "hello world"), (2L, "goodbye")).toDF("id", "text")
    val out = embedder.embed(df, "text", "embedding")
      .orderBy("id").select("embedding").as[Array[Float]].collect()
    assert(out(0).sameElements(embedder.embedText("hello world")))
    assert(out(1).sameElements(embedder.embedText("goodbye")))
  }

  test("document path end-to-end: a document's top-1 is itself at dist 0") {
    val path = SparkTestBase.tmpDir("test_doc_engine")
    ZebraEngine.destroy(path)
    val eng = ZebraEngine.create(
      spark, path, EngineConfig(dim = 384, metric = "cosine"))
    val docs = Tables.documents(spark, SparkTestBase.sf0001)
      .select(
        format_string("d%06d", col("doc_id")).as("id"),
        col("text").cast("binary").as("document"))
    eng.insertDocuments(docs, embedder)
    assert(eng.count() == docs.count())

    val queries = Tables.documents(spark, SparkTestBase.sf0001)
      .filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        col("text").cast("binary").as("document"))
    val hits = eng.queryDocuments(queries, embedder, k = 1).collect()
    assert(hits.length == 3)
    hits.foreach { r =>
      assert(r.getAs[String]("id") == f"d${r.getAs[Long]("query_id")}%06d")
      assert(r.getAs[Double]("dist") == 0.0)
      assert(r.getAs[Array[Byte]]("document").nonEmpty)
    }
    ZebraEngine.destroy(path)
  }

  test("text_knn retrieval beats chance: top-5 contains self for every query") {
    val docs = Tables.documents(spark, SparkTestBase.sf0001)
      .select(col("doc_id"), col("text"))
    val vecs = embedder.embed(docs, "text", "embedding")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = SimSearch.exactTopK(queries, vecs, k = 5, metric = Distances.Cosine)
    val selfHits = top.filter(col("query_id") === col("vec_id")).count()
    assert(selfHits == 5)
  }

  test("md5-count twin embedder: deterministic integer counts, self at dist 0") {
    val twin = graft.embed.Md5CountEmbedder()
    val a = twin.embedText("the quick brown fox")
    assert(a.length == 32 && a.sameElements(twin.embedText("the quick brown fox")))
    assert(a.forall(x => x == math.rint(x))) // integer-valued by construction
    assert(a.map(x => math.abs(x)).sum == 4f) // one ±1 vote per token
    val rows = graft.catalog.EmbedQueries.textKnnExact
      .run(spark, SparkTestBase.sf0001).collect()
    assert(rows.nonEmpty)
    val self = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.nonEmpty && self.forall(_.getLong(2) == 0L))
  }
}
