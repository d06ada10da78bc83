package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Distances

/** Scalar quantization (SQ8) — the fifth ANN family next to the LSH
  * forest, IVF-Flat, PQ and IVF-PQ, and the simplest compression tier in
  * the FAISS taxonomy: each vector component is linearly quantized to one
  * byte against that DIMENSION's exact global [min, max], giving 4×
  * compression (64-d float → 64 bytes) with no trained codebook at all.
  *
  * What distinguishes SQ here: the quantization bounds are EXACT
  * per-dimension extremes (one map-side-partial min/max aggregation — no
  * RNG, no Lloyd), so unlike the PQ/IVF families the ENTIRE compressed
  * scan is cross-engine deterministic and the catalog entry `ann_sq_topk`
  * is DuckDB-hash-checked end to end — encode, reconstruct, score, rank —
  * not just an exhaustive-budget twin. The arithmetic on both sides is
  * kept operation-for-operation identical:
  *
  *   code  = floor((x − mn) · 255 / (mx − mn))        (0 when mx = mn)
  *   recon = mn + code · (mx − mn) / 255
  *
  * Scale shape: train is one aggregation with constant (2 · dim) state;
  * encode/decode are narrow maps against a broadcast bounds pair (no
  * join, no shuffle); scoring reuses the exact-kNN plan (broadcast
  * queries, codegen L2 kernel, bounded top-k aggregate) over the
  * reconstructed column — the corpus is scanned once and never shuffled.
  */
object Sq {

  /** Per-dimension exact bounds. */
  final case class SqModel(mins: Array[Double], maxs: Array[Double]) {
    def dim: Int = mins.length
  }

  /** Exact per-dimension min/max — deterministic at any corpus size
    * (extremes are order-free), partials map-side. */
  def train(vectors: DataFrame): SqModel = {
    val rows = vectors
      .select(posexplode(Distances.asDouble(col("embedding"))).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    SqModel(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Compress: (vecId, codes ARRAY<INT>) — one narrow map. Codes are
    * 0..255 for vectors inside the trained extremes, but DELIBERATELY
    * fall OUTSIDE that range for out-of-range inputs (frozen-bounds
    * incremental adds): encode/decode must stay an exact inverse affine
    * pair, and ZebraEngine's sq8 shortlist contract (plus the
    * out-of-range insert spec) depends on encode NOT clamping — do not
    * "fix" this to saturate at 0/255. */
  def encode(
      vectors: DataFrame, model: SqModel,
      vecId: String = "vec_id"): DataFrame = {
    val bc = vectors.sparkSession.sparkContext.broadcast((model.mins, model.maxs))
    val enc = udf { (emb: Seq[Double]) =>
      val (mns, mxs) = bc.value
      Array.tabulate(emb.length) { i =>
        if (mxs(i) == mns(i)) 0
        else math.floor((emb(i) - mns(i)) * 255.0 / (mxs(i) - mns(i))).toInt
      }
    }
    vectors.select(col(vecId),
      enc(Distances.asDouble(col("embedding"))).as("codes"))
  }

  /** Reconstruct: (vecId, embedding ARRAY<DOUBLE>) from codes. */
  def decode(
      codes: DataFrame, model: SqModel,
      vecId: String = "vec_id"): DataFrame = {
    val bc = codes.sparkSession.sparkContext.broadcast((model.mins, model.maxs))
    val dec = udf { (cs: Seq[Int]) =>
      val (mns, mxs) = bc.value
      Array.tabulate(cs.length)(i => mns(i) + cs(i) * (mxs(i) - mns(i)) / 255.0)
    }
    codes.select(col(vecId), dec(col("codes")).as("embedding"))
  }

  /** Top-k over the COMPRESSED corpus: decode + the exact-kNN plan
    * (broadcast queries, codegen L2 kernel, bounded top-k agg). Raw
    * queries against reconstructed corpus — asymmetric, like ADC. */
  def topK(
      queries: DataFrame, codes: DataFrame, model: SqModel, k: Int,
      queryId: String = "query_id", vecId: String = "vec_id"): DataFrame =
    SimSearch.exactTopK(queries, decode(codes, model, vecId), k,
      queryId = queryId, vecId = vecId)

  /** SQ top-k WITH exact rerank — [[graft.ops.Pq.topK]]'s two-stage shape
    * for the scalar family: a compressed-scan shortlist of `rerank`
    * candidates per query under `metric` over the RECONSTRUCTED vectors,
    * then exact rescoring of just the shortlist against the raw vectors
    * (broadcast shortlist join). `rerank` ≥ corpus size makes the result
    * exactly [[SimSearch.exactTopK]] under any metric — the engine's
    * full-budget contract. */
  def topKRerank(
      queries: DataFrame, codes: DataFrame, vectors: DataFrame,
      model: SqModel, k: Int, rerank: Int,
      metric: Distances.Metric = Distances.L2Squared,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame = {
    require(rerank >= k, "rerank budget must be at least k")
    val shortlist = SimSearch.exactTopK(
      queries, decode(codes, model, vecId), rerank, metric = metric,
      queryId = queryId, vecId = vecId)
    SimSearch.rerankTopK(shortlist, queries, vectors, k, metric,
      queryId, vecId, roundTo)
  }

  /** Per-JVM model + persisted code table (the family cache pattern). */
  object Cache {
    def ensure(s: SparkSession, dir: String)
        : (DataFrame, SqModel) = {
      val (path, model) = graft.core.Scratch.cached("sq", dir) { p =>
        val e = graft.core.Tables.embeddings(s, dir)
        val m = train(e)
        encode(e, m).write.mode("overwrite").parquet(p)
        (p, m)
      }
      (s.read.parquet(path), model)
    }
  }
}
