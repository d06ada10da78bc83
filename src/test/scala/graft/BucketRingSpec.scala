package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The r15 live-entry shape of the text near-dup ring: the signature as
  * one string per entry. */
final case class LiveSigR15(id: Long, sig: Array[String], ts: Long)

/** Writes r15-shaped "live" entries under the r16 processor's state
  * names; emits nothing. Only here to produce an r15 checkpoint. */
final class R15SigProcessor extends StatefulProcessor[
    String, (String, Timestamp, Long, Array[Byte]), (Long, Long, Long)] {
  @transient private var live: ListState[LiveSigR15] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    live = getHandle.getListState[LiveSigR15](
      "live", Encoders.product[LiveSigR15], TTLConfig.NONE)
    getHandle.getValueState[Long]("timerTs", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: String, rows: Iterator[(String, Timestamp, Long, Array[Byte])],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    live.appendList(rows.map { case (_, ts, id, sig) =>
      LiveSigR15(id, sig.grouped(16).map(_.map("%02x".format(_)).mkString).toArray,
        ts.getTime)
    }.toArray)
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] =
    Iterator.empty
}

/** The bucket-ring state machine behind both near-dup streams: its
  * state-schema contract across releases, its compacting write, and the
  * guard that keeps it the only place that drives timers and list appends. */
class BucketRingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val t0 = 30L * 86400000L
  private def at(ms: Long) = new Timestamp(t0 + ms)

  test("a checkpoint written with the r15 live-entry shape fails the " +
      "restart on its state schema") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = SparkTestBase.tmpDir("bucketring_r15_ckpt")
    val outDir = SparkTestBase.tmpDir("bucketring_r15_out")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    def text(i: Int) = (0 until 40).map(w => s"w${i}x$w").mkString(" ")
    def sink(df: DataFrame) = df.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // r15: the same fan-out into the same state operator, the live list
    // holding string entries
    val mh = graft.ops.Minhash
    val r15 = docs
      .withColumn("sig", mh.signatureBinaryUdf(16)(col("text")))
      .select(col("ts"), col("doc_id"), col("sig"),
        explode(mh.bucketKeysBinary(col("sig"), 16, 4, mh.Md5EntryBytes))
          .as("bucket"))
      .withWatermark("ts", "7 days")
      .select(col("bucket"), col("ts"), col("doc_id"), col("sig"))
      .as[(String, Timestamp, Long, Array[Byte])]
      .groupByKey(_._1)
      .transformWithState(new R15SigProcessor, TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("doc_a", "doc_b", "n_agree")
    val err = StreamOps.withRocksDbStateStore(spark) {
      val q1 = sink(r15)
      try { mem.addData(Seq((at(0), 0L, text(0)))); q1.processAllAvailable() }
      finally q1.stop()
      // r16 restarts on that checkpoint
      val q2 = sink(StreamOps.nearDupPairsStream(docs, lateness = "7 days"))
      try {
        mem.addData(Seq((at(1000), 1L, text(0) + " zzztwin")))
        intercept[Exception](q2.processAllAvailable())
      } finally q2.stop()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE")),
      s"the r15 → r16 restart did not fail on the state schema: $msgs")
  }

  test("an expired majority rewrites the live list instead of appending") {
    // one bucket per tree (empty cuts, identical vectors): four priors,
    // then a batch whose watermark (10 s − 5 s) has expired the first
    // three — more than the two live entries after the arrival
    val e: Seq[Float] = (0 until 8).map(i => (i + 1).toFloat / 10f)
    val model = graft.index.LshForest.build(Seq(0L -> e).toDF("vec_id", "embedding"))
    val cuts = Map.empty[(Int, Int), (Int, Array[Double])]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = SparkTestBase.tmpDir("bucketring_expired_ckpt")
    val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
    StreamOps.withRocksDbStateStore(spark) {
      val q = StreamOps
        .embNearDupStream(mem.toDF().toDF("ts", "vec_id", "embedding"),
          model, cuts, lateness = "5 seconds")
        .writeStream.format("memory").queryName("bucketring_expired")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try Seq(
        Seq((at(0), 0L, e), (at(1000), 1L, e), (at(2000), 2L, e),
          (at(10000), 3L, e)),
        Seq((at(11000), 4L, e))
      ).foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val pairs = spark.table("bucketring_expired").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val priors = (0L to 3L).combinations(2).map(p => (p(0), p(1))).toSet
    assert(pairs == priors + ((3L, 4L)), s"pairs: $pairs")
    val state = spark.read.format("statestore")
      .option("path", ckpt).option("stateVarName", "live").load()
    val ids = state.select(col("list_element.id")).as[Long].collect().toSet
    assert(ids == Set(3L, 4L),
      s"the expired priors stayed in the live list: $ids")
  }

  test("no source file but BucketRingProcessor.scala drives timers or " +
      "list appends") {
    val banned = Seq("registerTimer", "deleteTimer", "appendList")
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val files = sources(new File("src/main/scala"))
      .filter(_.getName != "BucketRingProcessor.scala")
    assert(files.length > 50, "main sources not found")
    val offenders = files.flatMap { f =>
      val text = Files.readString(f.toPath)
      banned.filter(text.contains).map(b => s"${f.getPath}: $b")
    }
    assert(offenders.isEmpty,
      s"ring state-machine calls outside BucketRingProcessor: $offenders")
  }
}
