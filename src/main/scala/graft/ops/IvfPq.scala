package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Distances

/** IVF-PQ — the composition the production ANN systems ship (FAISS
  * IVFPQ): [[Ivf]] cell assignment prunes WHICH partitions are read,
  * [[Pq]] codes shrink WHAT is read 32×, and the exact rerank touches
  * raw vectors only for the shortlist. At 100 TB the three multiply:
  * a 16-of-4096-cell probe reads 0.4% of the files, each 32× smaller
  * than the float column, and the full-precision fetch is k·rerank rows.
  *
  * Nothing here is new machinery — the index is one join of the two
  * existing assignments written `partitionBy(cell_id)`, and the query
  * path is Ivf's pruned scan feeding Pq's ADC scorer. Both full-budget
  * settings together (nprobe = nlist, rerank = corpus) degenerate to
  * exact kNN, which is what the catalog twin hash-checks. */
object IvfPq {

  final case class IvfPqModel(coarse: Ivf.IvfModel, pq: Pq.PqModel)

  /** Occupancy-scaled default rerank budget — the sizing law the scale
    * probe measured (SURVEY §8.2): a FIXED shortlist decays as cells grow
    * (recall@10 = 0.93 at 400k but 0.41 at 1.6M with rerank=320), because
    * ADC noise is proportional to how many rows the probe actually scans.
    * Scaling the shortlist with the probed row count (~0.2% of scanned,
    * twice the probe's 0.1% floor for margin) returned recall to 1.000 at
    * 1.6M while still reranking a vanishing fraction of the corpus.
    * `n` is the corpus size; probed rows are estimated uniformly
    * (n·nprobe/nlist) — cell skew is bounded by the coarse quantizer's
    * sample training, and the 2× margin absorbs it. */
  def defaultRerank(k: Int, n: Long, nprobe: Int, nlist: Int): Int = {
    val probedEst = n.toDouble * nprobe / math.max(nlist, 1)
    math.max(32 * k, math.ceil(probedEst / 500.0).toInt)
  }

  /** Train both quantizers on the same bounded-sample discipline. */
  def train(
      vectors: DataFrame, nlist: Int, m: Int = 8, ksub: Int = 256,
      vecId: String = "vec_id"): IvfPqModel =
    IvfPqModel(
      Ivf.chooseCentroids(vectors, nlist, vecId = vecId),
      Pq.train(vectors, m = m, ksub = ksub, vecId = vecId))

  /** (cell_id, vecId, codes) of `vectors` through the model: one narrow
    * map per quantizer, one equi-join on vecId. */
  def encode(vectors: DataFrame, model: IvfPqModel, vecId: String = "vec_id"): DataFrame =
    Ivf.assign(vectors, model.coarse, vecId).drop("embedding")
      .join(Pq.encode(vectors, model.pq, vecId), Seq(vecId))

  /** Write index rows partitioned by cell — the compressed,
    * partition-pruned layout — after one clustering shuffle. */
  def writeCells(rows: DataFrame, mode: SaveMode, path: String): Unit =
    rows.repartition(col("cell_id"))
      .write.mode(mode).partitionBy("cell_id").parquet(path)

  /** Build + persist (cell_id, vecId, codes). */
  def buildIndex(
      vectors: DataFrame, model: IvfPqModel, path: String,
      vecId: String = "vec_id"): Unit =
    writeCells(encode(vectors, model, vecId), SaveMode.Overwrite, path)

  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Probe nprobe cells, ADC-score only their codes, exact-rerank the
    * shortlist against the raw vectors. */
  def topK(
      queries: DataFrame, index: DataFrame, vectors: DataFrame,
      model: IvfPqModel, k: Int, nprobe: Int, rerank: Int,
      metric: Distances.Metric = Distances.L2Squared,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame = {
    require(rerank >= k, "rerank budget must be at least k")
    val p = Ivf.probes(queries, model.coarse, nprobe, queryId)
      .select(queryId, "cell_id").localCheckpoint()
    val probedCells = p.select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // partition-pruned codes scan, restricted per query to ITS probed
    // cells via the (queryId, cell_id) semi-join on the broadcast probes
    val probedCodes = index
      .filter(col("cell_id").isin(probedCells: _*))
      .join(broadcast(p), Seq("cell_id"))
      .select(col(queryId), col(vecId), col("codes"))
    val scored = Pq.adcScoresKeyed(probedCodes, queries, model.pq, queryId, vecId)
    SimSearch.rerankTopK(SimSearch.takeTopK(scored, rerank, queryId, vecId),
      queries, vectors, k, metric, queryId, vecId, roundTo)
  }
}
