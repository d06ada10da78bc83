package graft.catalog

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The replay harness of the streaming exec gates.
  *
  * Every `stream_*_exec` gate replays a fixture table through the REAL
  * micro-batch engine and hash-checks what the query leaves behind. The
  * gate supplies only its own parts: the batches, the query it starts
  * (a memory sink, a `maintain*` store writer or a `foreachBatch`) and
  * its result read. This object owns the rest, once:
  *
  *   - the feed collect, capped ([[collectCapped]]);
  *   - the in-memory source ([[replay]]);
  *   - the gate's shuffle-partition count and, where asked, the RocksDB
  *     state store, set around the whole replay;
  *   - the feed loop ([[drive]]).
  *
  * The replay contract:
  *
  *   - batches are fed in the order given, and each ends at a micro-batch
  *     boundary: the loop lands one batch, then waits until the query has
  *     processed everything available;
  *   - every invocation gets its own memory-sink name and its own scratch
  *     dir ([[Run]]). Dirs live under the JVM's [[graft.core.Scratch]]
  *     root, so two JVMs never touch each other's stores; a gate's next
  *     invocation in the same JVM deletes its earlier ones, and the root
  *     goes when the JVM exits;
  *   - the query is always stopped, also when a batch or the query fails.
  *
  * Production streams read from a real source (`readStream`); nothing in
  * this file is part of any production operator.
  */
object StreamFeed {

  /** ~6× the largest sf0.1 fixture feed (600k basket pairs); far below
    * any corpus-sized frame. */
  val MaxFeedRows: Int = 4000000

  /** Collect a gate's feed to the driver. The collect is inherent to the
    * gate pattern and driver-bounded at fixture scale (≤600k rows at
    * sf0.1), but it must never silently ride along if a gate is ever
    * pointed at a corpus-sized table: the `limit(max+1)` keeps even the
    * failure path bounded (the driver pulls at most one row past the cap,
    * not the corpus) and the call fails loudly. */
  def collectCapped[T](ds: Dataset[T], what: String,
      max: Int = MaxFeedRows): Array[T] = {
    val rows = ds.limit(max + 1).collect()
    require(rows.length <= max,
      s"$what: exec-gate feed exceeds $max rows — these harness feeds are " +
        "fixture-scale only; a corpus-sized stream belongs on a real " +
        "readStream source, not a driver-collected in-memory stream")
    rows
  }

  /** One gate invocation: the memory-sink name and the scratch dir that
    * belong to it alone. The dir is not created; the gate's writers make
    * what they use under it. */
  final case class Run(sink: String, dir: String)

  private def newRun(s: SparkSession, gate: String): Run = {
    val root = new org.apache.hadoop.fs.Path(graft.core.Scratch.root)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a gate's earlier invocations in this JVM: their results were read
    // before this one started (one JVM never runs a gate concurrently)
    fs.globStatus(new org.apache.hadoop.fs.Path(root, s"${gate}_*"))
      .foreach(st => fs.delete(st.getPath, true))
    val dir = graft.core.Scratch.dir(gate)
    Run(new java.io.File(dir).getName, dir)
  }

  /** `rows` in `n` ordered batches of equal size, the last one shorter. */
  def batches[T](rows: Array[T], n: Int): Seq[Seq[T]] =
    rows.grouped(math.max(1, rows.length / n + 1)).map(_.toSeq).toSeq

  /** An in-memory stream source: its DataFrame and the call that appends
    * one batch to it. */
  def source[T: Encoder](s: SparkSession): (DataFrame, Seq[T] => Unit) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[T]
    (mem.toDF(), rows => { mem.addData(rows); () })
  }

  /** Replay `batches` through one in-memory source into the query that
    * `start` builds on the source's DataFrame, under `partitions` shuffle
    * partitions (and the RocksDB state store when `rocksDb`). Returns the
    * invocation whose sink or dir holds the result. */
  def replay[T: Encoder](s: SparkSession, gate: String, partitions: Int,
      batches: Iterable[Seq[T]], rocksDb: Boolean = false)
      (start: (DataFrame, Run) => StreamingQuery): Run = {
    val (in, add) = source[T](s)
    drive(s, gate, partitions, rocksDb) { run =>
      (start(in, run), batches.view.map(b => () => add(b)))
    }
  }

  /** The feed loop under [[replay]], for gates whose feed is not one
    * in-memory source: `start` builds the query and returns it with its
    * feed steps; each step lands one batch and ends at a micro-batch
    * boundary. */
  def drive(s: SparkSession, gate: String, partitions: Int,
      rocksDb: Boolean = false)
      (start: Run => (StreamingQuery, Iterable[() => Unit])): Run = {
    val run = newRun(s, gate)
    def loop(): Unit =
      graft.streaming.StreamOps.withShufflePartitions(s, partitions) {
        val (q, steps) = start(run)
        try steps.foreach { step => step(); q.processAllAvailable() }
        finally q.stop()
      }
    if (rocksDb) graft.streaming.StreamOps.withRocksDbStateStore(s)(loop())
    else loop()
    run
  }
}
