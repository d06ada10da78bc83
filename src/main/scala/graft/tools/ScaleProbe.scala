package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.LshForest
import graft.ops.SimSearch

/** Dev tool: scale probe for the ANN path beyond the 500-row fixture.
  * Synthesizes n deterministic 64-d vectors (hash-based, no RNG state),
  * builds the forest (sampled build once n > sampleCap), and measures
  * exact-vs-LSH latency + recall@10 on a query batch. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100000
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // deterministic synthetic corpus: 1000 well-separated cluster centers
    // (spread ±2 per dim) + per-point jitter (±0.5) — a realistic ANN
    // workload where the true top-k lives inside a ~n/1000-point cluster
    val vecs = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => (
        (pmod(xxhash64(col("id") % 1000, j), lit(1000)) / lit(250.0) - 2.0) +
          (pmod(xxhash64(col("id"), j), lit(1000)) / lit(1000.0) - 0.5)
      ).cast("float")).as("embedding"))
      .cache()
    vecs.count()

    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (_, tExactWarm) = time(SimSearch.exactTopK(queries, vecs, 10).count())
    val (exact, _) = time(SimSearch.exactTopK(queries, vecs, 10).cache())
    val (_, tExact) = time(exact.count())

    val nt = if (args.length > 1) args(1).toInt else 15
    val (model, tBuild) = time(LshForest.build(vecs, LshForest.Options(numTrees = nt)))
    val path = graft.core.Scratch.dir(s"scale_probe_$n")
    val (_, tIndex) = time(LshForest.writeIndex(vecs, model, path))
    val buckets = LshForest.loadIndex(spark, path)

    val (approx, _) = time(LshForest.topK(queries, buckets, vecs, model, 10).cache())
    val (_, tLshWarm) = time(approx.count())
    val approx2 = LshForest.topK(queries, buckets, vecs, model, 10)
    val (_, tLsh) = time(approx2.count())
    val recall = SimSearch.recallAtK(approx, exact)
    val nCand = LshForest.candidates(queries, buckets, model, 40).count() / 10

    println(f"n=$n exact=${tExact}%.2fs (warm ${tExactWarm}%.2fs) " +
      f"lsh=${tLsh}%.2fs (first ${tLshWarm}%.2fs) build=${tBuild}%.2fs " +
      f"index_write=${tIndex}%.2fs recall@10=$recall%.3f cand/query=$nCand")

    // PQ leg on the same clustered corpus: 8-byte codes (32x), ADC scan +
    // small exact rerank — recall here, not the uniform-random fixture,
    // is the realistic quality number for the compressed scan.
    val (pqModel, tTrain) = time(graft.ops.Pq.train(vecs, m = 8, ksub = 256))
    val (codes, _) = time(graft.ops.Pq.encode(vecs, pqModel).cache())
    val (_, tEncode) = time(codes.count())
    val (pqTop, _) = time(
      graft.ops.Pq.topK(queries, codes, vecs, pqModel, k = 10,
        rerank = math.max(320, n / 1000)).cache())
    val (_, tPq) = time(pqTop.count())
    val pqRecall = SimSearch.recallAtK(pqTop, exact)
    val (adcTop, _) = time(
      graft.ops.Pq.adcTopK(queries, codes, pqModel, k = 10).cache())
    val (_, tAdc) = time(adcTop.count())
    val adcRecall = SimSearch.recallAtK(adcTop, exact)
    println(f"pq: train=${tTrain}%.2fs encode=${tEncode}%.2fs " +
      f"topk(rerank=${math.max(320, n / 1000)})=${tPq}%.2fs recall@10=$pqRecall%.3f " +
      f"adc_only=${tAdc}%.2fs adc_recall@10=$adcRecall%.3f")
    spark.stop()
  }
}
