package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Distances

/** Similarity search over an embedding column.
  *
  * [[exactTopK]] is the batch form of the reference's `query_vectors`
  * (reference: src/database/core.rs:290-313) — but where the reference loops
  * per query on a rayon pool, this emits ONE logical plan for the whole query
  * batch: broadcast the (small) query side, score every (query, vector) pair
  * inside one whole-stage-codegen span over the streamed vectors scan, then
  * reduce to k survivors per query with the bounded [[TopKAgg]] aggregate.
  * Partial aggregation keeps at most k rows per (query, input partition), so
  * the only shuffle carries k·numPartitions rows per query — never the
  * scored table. The 100 TB side is scanned once and never shuffled.
  */
object SimSearch {

  /** 4-decimal output quantization, cross-engine deterministic: cosine
    * truncates instead of round()ing — its quotient lands close enough to
    * round-half boundaries that Spark's and DuckDB's round implementations
    * disagree on occasional rows (see [[Distances.trunc4NonNeg]]). All other
    * metrics keep round(·, roundTo). */
  private[graft] def quantize(
      metric: Distances.Metric, raw: Column, roundTo: Int): Column =
    if (metric == Distances.Cosine) Distances.trunc4NonNeg(raw)
    else round(raw, roundTo)

  /** Group the scored rows down to k best per query via the bounded top-k
    * aggregate. `scored` must have (queryId, idCol, "dist") columns. */
  private[graft] def takeTopK(
      scored: DataFrame, k: Int, queryId: String, idCol: String): DataFrame = {
    val isString = scored.schema(idCol).dataType == StringType
    val agged =
      if (isString)
        scored.groupBy(col(queryId))
          .agg(TopK.topk[String](k, col("dist"), col(idCol)).as("topk"))
      else
        scored.groupBy(col(queryId))
          .agg(TopK.topk[Long](k, col("dist"), col(idCol).cast("long")).as("topk"))
    agged
      .select(col(queryId), explode(col("topk")).as("s"))
      .select(col(queryId), col("s.id").as(idCol), col("s.dist").as("dist"))
  }

  /** Brute-force exact top-k: every query row against every vector row.
    * `queries(queryIdCol, embCol)`, `vectors(idCol, embCol)` — both embedding
    * columns must be ARRAY<FLOAT|DOUBLE>. Output: (query_id, id, dist)
    * with dist rounded to `roundTo` decimals for cross-engine determinism;
    * ties broken by id. */
  def exactTopK(
      queries: DataFrame, vectors: DataFrame, k: Int,
      metric: Distances.Metric = Distances.L2Squared,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame =
    scoreTopK(vectorEmbeddings(vectors, vecId)
      .crossJoin(broadcast(queryEmbeddings(queries, queryId))),
      k, metric, queryId, vecId, roundTo)

  /** Exact rerank of a bounded candidate PAIR set: score only the given
    * (query_id, vec_id) pairs against the full-dimension vectors and keep
    * k per query — the second stage of a two-stage retrieval (coarse
    * prefilter → exact rerank). The join fans out on candidates, never on
    * the corpus: at 100 TB the corpus side is probed by vec_id with the
    * pair set as the (bounded, k1·|queries|-sized) build side. */
  def rerankTopK(
      pairs: DataFrame, queries: DataFrame, vectors: DataFrame, k: Int,
      metric: Distances.Metric = Distances.L2Squared,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame =
    rerankPairs(pairs.select(queryId, vecId), queryEmbeddings(queries, queryId),
      vectors, k, metric, queryId, vecId, roundTo)

  /** (queryId, q_emb): the query side of an exact score. */
  private[graft] def queryEmbeddings(queries: DataFrame, queryId: String): DataFrame =
    queries.select(col(queryId), Distances.asDouble(queries("embedding")).as("q_emb"))

  private def vectorEmbeddings(vectors: DataFrame, vecId: String): DataFrame =
    vectors.select(col(vecId), Distances.asDouble(vectors("embedding")).as("v_emb"))

  /** The exact-rerank tail of every candidate-generating search (LSH
    * forest, IVF-PQ, PQ, SQ8, the cross-table kNN join): `pairs`
    * (queryId, vecId) ⋈ vectors ⋈ query embeddings `q` (queryId, q_emb),
    * exact score, top-k. Only the join hints differ per caller: by default
    * the pairs probe the vectors and the queries broadcast;
    * `broadcastPairs` makes the pairs the build side the vectors stream
    * past; `broadcastQueries = false` hash-joins a large query side. */
  private[graft] def rerankPairs(
      pairs: DataFrame, q: DataFrame, vectors: DataFrame, k: Int,
      metric: Distances.Metric, queryId: String, vecId: String, roundTo: Int,
      broadcastPairs: Boolean = false,
      broadcastQueries: Boolean = true): DataFrame = {
    val v = vectorEmbeddings(vectors, vecId)
    val withVectors =
      if (broadcastPairs) v.join(broadcast(pairs), vecId) else pairs.join(v, vecId)
    scoreTopK(withVectors.join(if (broadcastQueries) broadcast(q) else q, queryId),
      k, metric, queryId, vecId, roundTo)
  }

  /** Score joined (q_emb, v_emb) rows with the exact metric and keep k per
    * query: the one place an exact distance is computed. */
  private def scoreTopK(
      joined: DataFrame, k: Int, metric: Distances.Metric,
      queryId: String, vecId: String, roundTo: Int): DataFrame =
    takeTopK(
      joined.withColumn("dist",
        quantize(metric, metric(col("q_emb"), col("v_emb")), roundTo)),
      k, queryId, vecId)

  /** Recall@k of `approx` against `exact` (both (query_id, vec_id, ...)). */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    val hit = approx.select("query_id", "vec_id")
      .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
      .count()
    val total = exact.count()
    if (total == 0) 1.0 else hit.toDouble / total
  }
}
