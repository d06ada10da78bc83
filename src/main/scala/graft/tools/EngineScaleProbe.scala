package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{EngineConfig, ZebraEngine}

/** Dev tool: the engine lifecycle at scale — bulk ingest, incremental
  * appends through the existing index, leaf-local compaction, query
  * latency before/after. ScaleProbe covers the raw forest; this covers
  * what a production deployment actually calls (create → insertRecords →
  * refreshIndex → incremental add → compactIndexIfNeeded → queryVectors).
  * Usage: EngineScaleProbe [n] [batches]. */
object EngineScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 1000000
    val nBatches = if (args.length > 1) args(1).toInt else 4
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // embed from the numeric id FIRST, then alias the string id in a second
    // select — in one select the string alias can shadow the input column
    def synth(from: Int, until: Int) =
      spark.range(from, until).select(
        col("id"),
        transform(sequence(lit(0), lit(63)), j => (
          (pmod(xxhash64(col("id") % 1000, j), lit(1000)) / lit(250.0) - 2.0) +
            (pmod(xxhash64(col("id"), j), lit(1000)) / lit(1000.0) - 0.5)
        ).cast("float")).as("embedding"))
        .select(format_string("v%d", col("id")).as("id"), col("embedding"))

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    val path = graft.core.Scratch.dir(s"engine_scale_$n")
    val eng = ZebraEngine.create(spark, path, EngineConfig(dim = 64))

    val bulk = n * 8 / 10
    time(f"bulk_ingest_${bulk}")(eng.insertRecords(synth(0, bulk)))
    time("build_index")(eng.refreshIndex())

    val queries = synth(0, 16)
      .select(col("id").as("query_id"), col("embedding")).cache()
    queries.count()
    time("query_warm")(eng.queryVectors(queries, 10).count())
    time("query")(eng.queryVectors(queries, 10).count())

    // incremental appends route through the EXISTING broadcast trees
    val step = (n - bulk) / nBatches
    (0 until nBatches).foreach { b =>
      val (from, until) = (bulk + b * step, bulk + (b + 1) * step)
      time(f"incremental_add_${until - from}")(
        eng.insertRecords(synth(from, until)))
    }
    val compacted = time("compact_check")(eng.compactIndexIfNeeded())
    println(s"compacted: $compacted")
    time("query_after_adds")(eng.queryVectors(queries, 10).count())
    println(s"count: ${eng.count()}")

    // IVF-PQ engine at DEFAULT budgets: validates the occupancy-scaled
    // rerank law end to end — a fixed 32·k shortlist decayed to recall
    // 0.41 at 1.6M (SURVEY §8.2); the law must hold ≥ 0.99 with no
    // explicit searchK.
    val pathQ = graft.core.Scratch.dir(s"engine_scale_ivfpq_$n")
    val engQ = ZebraEngine.create(
      spark, pathQ, EngineConfig(dim = 64, indexKind = "ivfpq"))
    time(s"ivfpq_ingest_$n")(engQ.insertRecords(synth(0, n)))
    time("ivfpq_build")(engQ.refreshIndex())
    time("ivfpq_query_warm")(engQ.queryVectors(queries, 10).count())
    time("ivfpq_query")(engQ.queryVectors(queries, 10).count())
    val approxQ = engQ.queryVectors(queries, 10)
      .withColumnRenamed("id", "vec_id")
    val exactQ = graft.ops.SimSearch
      .exactTopK(queries, engQ.vectors, 10, vecId = "id")
      .withColumnRenamed("id", "vec_id")
    val recallQ = time("ivfpq_recall_eval")(
      graft.ops.SimSearch.recallAtK(approxQ, exactQ))
    println(f"ivfpq_recall_at10(default budgets): $recallQ%.4f (target >= 0.99)")

    // the same persisted tables through the raw forest path — any gap from
    // the engine timings above is engine plumbing, not the index
    val vecsP = spark.read.parquet(s"$path/vectors")
    val model2 = time("raw_build")(
      graft.index.LshForest.build(vecsP, graft.index.LshForest.Options(), vecId = "id"))
    val p2 = graft.core.Scratch.dir(s"engine_scale_raw_$n")
    time("raw_write")(
      graft.index.LshForest.writeIndex(vecsP, model2, p2, vecId = "id"))
    val b2 = graft.index.LshForest.loadIndex(spark, p2)
    time("raw_query_first")(
      graft.index.LshForest.topK(queries, b2, vecsP, model2, 10, vecId = "id").count())
    time("raw_query")(
      graft.index.LshForest.topK(queries, b2, vecsP, model2, 10, vecId = "id").count())
    spark.stop()
  }
}
