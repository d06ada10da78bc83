package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Distances

/** IVF-Flat approximate nearest neighbour — the engine's scale path for
  * similarity search (the reference's recall/latency trade-off lives in its
  * LSH forest, reference: src/database/index/lsh.rs; IVF is the engine's
  * additional cell-pruned layout for 100 TB corpora — see also
  * [[graft.index.LshForest]] for the reference-faithful algorithm).
  *
  * Design for scale, all stages shuffle-free or partition-pruned:
  *  - centroid choice: `TakeOrderedAndProject` over a seeded hash (bounded
  *    driver collect of `nlist` rows, no global sort materialization);
  *  - assignment: nearest-centroid argmin evaluated per row against a
  *    broadcast centroid array — a narrow map over the vectors scan. Round 1
  *    crossJoined every vector with all centroids (n·nlist blow-up) and
  *    ranked through a per-vector window shuffle; this does neither.
  *  - index: written once, `partitionBy("cell_id")` — probes become
  *    partition-pruned scans (only the probed cells' files are read);
  *  - query: probed cells join broadcast probes, then bounded [[TopKAgg]]
  *    top-k (map-side partial, k rows per partition per query shuffled).
  */
object Ivf {

  /** Broadcast-able centroid model; cell_id = index + 1. */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
  }

  /** assign/probes run repeatedly per session: one live centroid
    * Broadcast per SparkContext. */
  private val broadcastCentroids =
    new graft.core.BroadcastCache[IvfModel, Array[Array[Double]]](_.centroids)

  /** Deterministic trained centroids: take the `sampleCap` rows with the
    * smallest xxhash64(vec_id, seed) — a seeded uniform sample, one bounded
    * `TakeOrderedAndProject` job — then run Lloyd (k-means) iterations on
    * the driver over that sample. The sample is capped, so driver memory and
    * time stay bounded no matter the corpus size (quantizers are trained on
    * samples at any scale); the full corpus is only ever touched by the
    * single shuffle-free [[assign]] pass. */
  def chooseCentroids(
      vectors: DataFrame, nlist: Int, seed: Long = 42L,
      vecId: String = "vec_id", iters: Int = 10, sampleCap: Int = 4096): IvfModel = {
    // Driver sample bounded by bytes, not rows (same rule as the LSH build
    // sample): at 768-d the row cap scales down by 64/dim.
    val dim0 = vectors.select(size(col("embedding"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(64)
    val cap = graft.index.LshForest.byteBoundedCap(sampleCap, dim0)
    val rows = vectors
      .select(col(vecId), Distances.asDouble(col("embedding")).as("emb"))
      .withColumn("h", xxhash64(col(vecId), lit(seed)))
      .orderBy("h").limit(math.max(nlist, cap))
      .select("emb")
      .collect()
    val sample = rows.map(_.getSeq[Double](0).toArray)
    IvfModel(lloyd(sample, nlist, iters))
  }

  /** Lloyd iterations over a driver-side sample — the ONE copy of the
    * numeric loop, shared by this coarse quantizer and [[Pq]]'s
    * per-subspace codebooks so the two can never drift apart.
    * Init = first k sample points; an empty cluster keeps its centroid;
    * a sample of ≤ k points is returned as the centroids unchanged. */
  private[ops] def lloyd(
      sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    var cents = sample.take(k).map(_.clone())
    val dim = if (sample.isEmpty) 0 else sample.head.length
    var it = 0
    while (it < iters && sample.length > k) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var i = 0
        while (i < cents.length) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - cents(i)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i) // empty cluster keeps its centroid
        else sums(i).map(_ / counts(i))
      }.toArray
      it += 1
    }
    cents
  }

  private def sqDist(emb: Seq[Float], c: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    val n = math.min(emb.length, c.length)
    while (j < n) {
      val t = emb(j).toDouble - c(j)
      d += t * t
      j += 1
    }
    d
  }

  /** Assign every vector to its nearest centroid: one narrow projection over
    * the scan (broadcast centroids, no join, no shuffle). Ties break toward
    * the smaller cell_id.
    *
    * The inner loop unboxes the embedding ONCE per row and abandons a
    * centroid as soon as its partial distance exceeds the best-so-far —
    * both exact (squared distance only grows), together ~5× on the build
    * pass, which at nlist ~ sqrt(n) is the dominant index-build cost
    * (O(n·nlist·dim); 1.6M × 1264 cells was 900 s of the scale probe's
    * build before, the lion's share of it boxed Seq.apply calls). */
  def assign(vectors: DataFrame, model: IvfModel, vecId: String = "vec_id"): DataFrame = {
    val spark = vectors.sparkSession
    val bc = broadcastCentroids(spark, model)
    val cellUdf = udf { (emb: Seq[Float]) =>
      val cents = bc.value
      val p = new Array[Double](emb.length)
      var j = 0
      while (j < p.length) { p(j) = emb(j); j += 1 }
      var best = 0
      var bestD = Double.MaxValue
      var i = 0
      while (i < cents.length) {
        val c = cents(i)
        val n = math.min(p.length, c.length)
        var d = 0.0
        var k = 0
        while (k < n && d < bestD) {
          val t = p(k) - c(k); d += t * t; k += 1
        }
        if (k == n && d < bestD) { bestD = d; best = i }
        i += 1
      }
      best + 1
    }
    vectors.select(col(vecId), col("embedding"))
      .withColumn("cell_id", cellUdf(col("embedding")))
  }

  /** Build + persist the index: one assignment pass, written partitioned by
    * cell_id so probes prune at the file-listing level. The shuffle on
    * cell_id clusters each cell into one task — without it every input task
    * writes a file into every cell directory it touches (tasks x nlist
    * small files at scale); nlist ~ sqrt(n) keeps the shuffle wide enough
    * to use the cluster. */
  def buildIndex(
      vectors: DataFrame, model: IvfModel, path: String,
      vecId: String = "vec_id"): Unit =
    assign(vectors, model, vecId)
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)

  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Probe set per query: the `nprobe` nearest cells, computed against the
    * broadcast centroids in one narrow map (no join/shuffle). */
  def probes(
      queries: DataFrame, model: IvfModel, nprobe: Int,
      queryId: String = "query_id"): DataFrame = {
    val spark = queries.sparkSession
    val bc = broadcastCentroids(spark, model)
    val probeUdf = udf { (emb: Seq[Float]) =>
      val cents = bc.value
      cents.indices
        .map(i => (sqDist(emb, cents(i)), i + 1))
        .sorted
        .take(nprobe)
        .map(_._2)
    }
    queries.select(
      col(queryId),
      Distances.asDouble(col("embedding")).as("q_emb"),
      explode(probeUdf(col("embedding"))).as("cell_id"))
  }

  /** IVF-Flat approximate top-k over a (possibly persisted) assignment.
    * The probed-cell filter is a literal IN list so Parquet partition
    * pruning fires; the probes side is broadcast; final top-k is the
    * bounded aggregate. */
  def topK(
      queries: DataFrame, index: DataFrame, model: IvfModel,
      k: Int, nprobe: Int,
      metric: Distances.Metric = Distances.L2Squared,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame = {
    // Materialize the probe list once: the partition-pruning collect and
    // the cell join both consume it.
    val p = probes(queries, model, nprobe, queryId).localCheckpoint()
    val probedCells = p.select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val scored = index
      .filter(col("cell_id").isin(probedCells: _*))
      .join(broadcast(p), Seq("cell_id"))
      .withColumn("dist", SimSearch.quantize(
        metric, metric(col("q_emb"), Distances.asDouble(col("embedding"))), roundTo))
    SimSearch.takeTopK(scored, k, queryId, vecId)
  }
}
