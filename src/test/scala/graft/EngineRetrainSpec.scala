package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{EngineConfig, ZebraEngine}
import graft.ops.{IvfPq, SimSearch}

/** The quantizer kinds' one retrain rule, [[ZebraEngine.retrainIfGrown]],
  * run through the same growth schedule for ivfpq, sq8 and pq: a 200-row
  * index, then 2× and 4× the rows it was fit on. */
class EngineRetrainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def synth(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      format_string("s%06d", col("id")).as("id"),
      transform(sequence(lit(0), lit(15)),
        j => (pmod(xxhash64(col("id"), j), lit(1000)) / lit(500.0) - 1.0)
          .cast("float")).as("embedding"))

  private def key(df: DataFrame) = df
    .select("query_id", "id", "dist").collect()
    .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  for (kind <- Seq("ivfpq", "sq8", "pq"))
    test(s"$kind: retrainIfGrown fires once at 4x growth, not at 1x or 2x") {
      val path = SparkTestBase.tmpDir(s"test_engine_retrain_$kind")
      ZebraEngine.destroy(path)
      val e = ZebraEngine.create(
        spark, path, EngineConfig(dim = 16, indexKind = kind))
      def nlist = e.loadModel[IvfPq.IvfPqModel].map(_.coarse.nlist)
      e.insertRecords(synth(0, 200))
      e.refreshIndex()
      assert(e.trainedOn == 200L, "the build must record the fit-time corpus size")
      val nlist0 = nlist
      assert(!e.retrainIfGrown(), "a fresh index must not retrain")

      // 2x growth: the frozen quantizers are still within budget
      e.insertRecords(synth(200, 400))
      assert(!e.retrainIfGrown(), "2x growth must not cross the 4x bar")

      // 4x growth: the rule refits on today's corpus, once
      e.insertRecords(synth(400, 800))
      assert(e.retrainIfGrown(), "4x growth must retrain")
      assert(!e.retrainIfGrown(), "the retrain must quiesce")
      assert(e.trainedOn == 800L, "the retrain must re-record the corpus size")
      if (kind == "ivfpq")
        assert(nlist.get > nlist0.get, s"nlist must track sqrt(n): $nlist0 -> $nlist")

      // the retrained index serves: full budget is exact kNN, and every
      // query's default-budget top-1 is itself, in old and new regions
      val q = synth(0, 3).union(synth(700, 703))
        .select(col("id").as("query_id"), col("embedding"))
      val exact = SimSearch.exactTopK(q, e.vectors, k = 5, vecId = "id")
      assert(key(e.queryVectors(q, k = 5, searchK = Some(Int.MaxValue))) ==
        key(exact))
      val top1 = e.queryVectors(q, k = 1).collect()
      assert(top1.length == 6)
      top1.foreach(r => assert(r.getString(0) == r.getString(1), r))
      ZebraEngine.destroy(path)
    }
}
