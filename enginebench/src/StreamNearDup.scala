package enginebench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.ops.Minhash
import graft.streaming.StreamOps

/** `stream_neardup`: fixed-size micro-batches of ~80-word documents from
  * a fixed vocabulary go through a MemoryStream into
  * StreamOps.nearDupPairsStream (md5 signatures, RocksDB state, memory
  * sink). A planted share of documents are one-word edits of recent ones.
  * Event time advances one second per document and the lateness is
  * shorter than the stream, so timers expire state and its size levels
  * off. One client, closed loop: add one batch, wait until it is
  * processed, repeat. The timed phase is a fixed number of epochs. The
  * engine and index layers do no work here. */
object StreamNearDup {
  val EpochDocs = 100
  val Words = 80
  val Vocab = 5000
  val PlantShare = 0.15
  /** A planted edit copies one of this many preceding documents. */
  val PlantWindow = 100
  /** Five minutes of event time: 300 documents, 3 epochs. */
  val Lateness = "5 minutes"
  val NPerms = 16
  val BandRows = 4
  val MinAgree = 13
  /** Epoch times fall for about the first 30 epochs (JIT and planner
    * warm-up), steeply for the first ten. */
  val WarmupEpochs = 12
  /** Timed epochs per 3 s of --seconds; an epoch takes about 0.8-1 s on
    * a 4-CPU VM. */
  val EpochsPer3s = 2
  private val Md5EntryBytes = 16
  private val BaseMs = 1700000000000L

  private val vocab: Array[String] =
    Array.tabulate(Vocab)(i => "w" + Integer.toString(i * 7919 + 104729, 36))

  def run(spark: SparkSession, s: Settings, rec: Recorder, t0: Long): Outcome = {
    import spark.implicits._
    val seed = s.seed

    // documents are generated on demand, in id order; planted(i) = source
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    def nextDoc(): (Timestamp, Long, String) = {
      val i = texts.size.toLong
      val r = Gen.rng(seed, i)
      val words =
        if (i > 0 && r.nextDouble() < PlantShare) {
          val src = i - 1 - r.nextInt(math.min(PlantWindow, i.toInt))
          val w = texts(src.toInt).clone()
          w(r.nextInt(Words)) = vocab(r.nextInt(Vocab))
          planted += ((src, i))
          w
        } else Array.fill(Words)(vocab(r.nextInt(Vocab)))
      texts += words
      (new Timestamp(BaseMs + i * 1000L), i, words.mkString(" "))
    }

    val progress = new ProgressListener
    if (s.trace) spark.streams.addListener(progress)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val drops = spark.sparkContext.longAccumulator("neardup_drops")
    val sink = "neardup_sink"
    val query = StreamOps.withRocksDbStateStore(spark) {
      StreamOps.nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
          nPerms = NPerms, bandRows = BandRows, minAgree = MinAgree,
          lateness = Lateness, family = "md5", dropCounter = Some(drops))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", s"${s.scratch}/checkpoints/neardup")
        .start()
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    var epochs = 0
    var firstTimedDocs: Seq[(Timestamp, Long, String)] = Nil
    var snapshot: Option[(Long, Long, Long)] = None // emitted, distinct, drops
    def epoch(kind: String): Unit = {
      val docs = Seq.fill(EpochDocs)(nextDoc())
      if (kind == "epoch" && firstTimedDocs.isEmpty) firstTimedDocs = docs
      rec.call(kind) {
        mem.addData(docs)
        query.processAllAvailable()
      }(_ => query.exception.map(e => "stream failed: " + Recorder.describe(e)))
      epochs += 1
    }

    try {
      (1 to WarmupEpochs).foreach(_ => epoch("warmup.epoch"))
      val timedEpochs = math.max(2 * Layer.First, s.seconds * EpochsPer3s / 3)
      (1 to timedEpochs).foreach { timed =>
        epoch("epoch")
        if (s.trace && timed == Layer.First) snapshot = Some(sinkCounts(spark, sink, drops.value))
      }
    } finally query.stop()

    // every emitted pair must meet the agreement bar and be ordered
    val sent = texts.size.toLong
    val pairs = rec.call("verify") {
      spark.table(sink).select("doc_a", "doc_b", "n_agree").as[(Long, Long, Long)].collect()
    } { rows =>
      val bad = rows.filterNot { case (a, b, n) =>
        n >= MinAgree && n <= NPerms && a < b && a >= 0 && b < sent }
      if (bad.isEmpty) None else Some(s"${bad.length} emitted pairs fail the check, e.g. ${bad.head}")
    }.getOrElse(Array.empty)
    val found = pairs.map(p => (p._1, p._2)).toSet
    val recall = planted.count(found.contains).toDouble / math.max(1, planted.size)

    val e2e = Layer.endToEnd(rec, setupS, recall, "epoch", "epoch", EpochDocs)
    val layer =
      if (!s.trace) Map.empty[String, Double]
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val (emitted, distinct, dropped) = snapshot.getOrElse(sinkCounts(spark, sink, drops.value))
        val byEpoch = perEpoch(progress.all).drop(WarmupEpochs).take(Layer.First)
        def med(f: Seq[StreamingQueryProgress] => Double) =
          if (byEpoch.isEmpty) 0.0 else Stats.median(byEpoch.map(f))
        def dur(ps: Seq[StreamingQueryProgress], k: String) =
          ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        def state(p: StreamingQueryProgress) = p.stateOperators.headOption
        val last = byEpoch.lastOption.flatMap(_.lastOption)
        // the signature kernels as a batch select over one epoch's documents
        val docsDf = firstTimedDocs.toDF("ts", "doc_id", "text")
        val mhMs = Stats.median((1 to 3).map { _ =>
          Layer.timeMs(docsDf
            .select(Minhash.signatureBinaryUdf(NPerms)(col("text")).as("sig"))
            .select(Minhash.bucketKeysBinary(col("sig"), NPerms, BandRows, Md5EntryBytes))
            .write.format("noop").mode("overwrite").save())._2
        })
        val docsAtSnapshot = (WarmupEpochs + Layer.First) * EpochDocs
        Map(
          "stream.add_batch_ms" -> med(dur(_, "addBatch")),
          "stream.planning_ms" -> med(dur(_, "queryPlanning")),
          "stream.commit_ms" -> med(ps => dur(ps, "commitOffsets") + dur(ps, "walCommit")),
          "stream.state_rows" -> last.flatMap(state).map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "stream.state_bytes" -> last.flatMap(state).map { o =>
            Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.doubleValue)
              .getOrElse(o.memoryUsedBytes.toDouble) }.getOrElse(0.0),
          "stream.state_commit_ms" -> med(_.flatMap(state).map(_.commitTimeMs.toDouble).sum),
          "stream.state_rows_removed" -> med(_.flatMap(state).map(_.numRowsRemoved.toDouble).sum),
          "stream.emitted_per_kdoc" -> emitted * 1000.0 / docsAtSnapshot,
          "stream.distinct_pairs" -> distinct.toDouble,
          "stream.useful_ratio" -> (if (emitted == 0) 0.0 else distinct.toDouble / emitted),
          "stream.drops" -> dropped.toDouble,
          "minhash.ms_per_kdoc" -> mhMs * 1000.0 / EpochDocs) ++
          Layer.spark(rec, "epoch", "op") ++
          Layer.overhead(rec, "epoch", "epoch", EpochDocs)
      }
    Outcome(e2e, layer, Map(
      "epoch_docs" -> EpochDocs, "words" -> Words, "vocab" -> Vocab,
      "plant_share" -> PlantShare, "lateness" -> Lateness, "epochs" -> epochs,
      "docs" -> sent, "planted_pairs" -> planted.size, "emitted_rows" -> pairs.length,
      "distinct_pairs" -> found.size))
  }

  private def sinkCounts(spark: SparkSession, sink: String, drops: Long): (Long, Long, Long) = {
    val t = spark.table(sink)
    (t.count(), t.select("doc_a", "doc_b").distinct().count(), drops)
  }

  /** Micro-batch progress grouped by epoch: each epoch adds data once, so
    * its data-bearing batch starts a group and the batches without data
    * that follow it (watermark and timer work) belong to it. */
  private def perEpoch(ps: Seq[StreamingQueryProgress]): Seq[Seq[StreamingQueryProgress]] = {
    val out = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[StreamingQueryProgress]]
    ps.sortBy(_.batchId).foreach { p =>
      if (p.numInputRows > 0 || out.isEmpty) out += mutable.ArrayBuffer(p)
      else out.last += p
    }
    out.map(_.toSeq).toSeq
  }
}
