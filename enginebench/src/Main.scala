package enginebench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run: builds a fresh local session, runs one
  * workload against the engine's public API in-process, and prints the run's
  * artifact as one JSON line on stdout. run.py turns it into the result line,
  * taking metric names and units from BENCHMARK.json. */
object Main {
  def main(args: Array[String]): Unit = {
    val s = Settings.parse(args)
    val t0 = System.nanoTime()
    val (loadavg, otherJvms) = graft.BenchBox.condition()
    val spark = SparkSession.builder()
      .master(s"local[${s.cores}]")
      .appName(s"enginebench-${s.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", s.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(s.scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s.scratch, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(s.scratch, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, s.trace)
    val out =
      try s.workload match {
        case "ingest_mutate" => IngestMutate.run(spark, s, rec, t0)
        case "stream_neardup" => StreamNearDup.run(spark, s, rec, t0)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()

    println(Json.render(Map(
      "workload" -> s.workload, "seed" -> s.seed, "seconds" -> s.seconds,
      "trace" -> s.trace, "cores" -> s.cores,
      "box" -> Map("loadavg" -> loadavg, "other_jvms" -> otherJvms),
      "correct" -> (rec.wrongOutputs == 0),
      "attempted_total" -> rec.totalAttempted, "failed_total" -> rec.totalFailed,
      "end_to_end" -> out.endToEnd, "per_layer" -> out.perLayer,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "wrong_outputs" -> rec.wrongOutputs, "errors" -> rec.errors,
      "samples_ms" -> rec.samples.map { case (k, v) => k -> v.map(x => math.rint(x._1 * 10) / 10) },
      "details" -> out.details)))
  }
}
