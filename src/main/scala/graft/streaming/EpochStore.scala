package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The on-disk store behind every `foreachBatch`-maintained streaming
  * store (rollup, components, crawl, crawl-dedup, postings, basket
  * pairs): the LSM shape of the reference's record store, expressed as
  * parquet epoch dirs. This object alone knows the format.
  *
  * Commit point. A store is a dir of epoch dirs `v=<batchId>`, each the
  * output of one parquet job. An epoch is committed once its `_SUCCESS`
  * marker exists (the job commit). Readers list committed epochs only, so
  * a half-written epoch is invisible, and the replay of its batch
  * overwrites it.
  *
  * Two kinds of store:
  *   - append: each batch adds one epoch, and a read is the union of the
  *     live epochs (committed, minus those a compaction superseded);
  *   - replace: each batch writes the next full version from the latest
  *     one, and a read is the latest version.
  *
  * Replay rule. `foreachBatch` re-delivers a batch id after a failure. A
  * batch is absorbed, and writes nothing, when any committed or
  * superseded epoch id is ≥ its id. Ids arrive in order, so a later id
  * also proves the batch applied; a superseded id is remembered by the
  * compaction manifest after its dir is gone.
  *
  * Retention window. A reader that resolved a store just before a commit
  * is still scanning what the commit replaced and has no retry path. So a
  * replace store keeps the [[RetainedVersions]] versions before the
  * newest and deletes older ones; a compaction keeps its sources for one
  * more compaction cycle.
  *
  * Compaction (append stores). The live epochs merge through the store's
  * merge into a staging dir `compact_staging_<nanos>`, beside a
  * `_SUPERSEDES` manifest naming every epoch it replaces. The manifest
  * carries earlier manifests forward, so an ancient batch id stays
  * absorbed after its dir is deleted. One rename publishes the result as
  * `v=compact_<nanos>`. Then the epochs the previous compaction
  * superseded are deleted. Staging dirs older than an hour (a crashed
  * compaction's) are deleted first; a younger one may be a live writer's.
  *
  * Compaction trigger. After a batch's last commit, the writer compacts
  * each of its append stores that holds more than [[MaxLiveEpochs]] live
  * epochs, so a serving read never lists more than that many plus one.
  * The constant sits above every catalog gate's epoch count (at most 4
  * batches): no gate compacts, and the gates measure the plain append
  * path. [[compact]] can also be called on its own schedule.
  */
object EpochStore {

  /** Live epochs an append store may hold before its writer compacts it. */
  val MaxLiveEpochs: Int = 8

  /** Versions a replace store keeps before its newest. */
  private val RetainedVersions: Int = 2

  private val StaleStagingMs: Long = 60L * 60 * 1000

  /** An append store: its dir, and the merge its compaction folds the live
    * epochs through (rows must read the same after the merge). */
  final case class Append(
      path: String, merge: DataFrame => DataFrame = identity)

  private def fsOf(s: SparkSession, store: String): (FileSystem, Path) = {
    val p = new Path(store)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def epochDir(store: String, batchId: Long): String =
    s"$store/v=$batchId"

  private def idOf(name: String): Option[Long] =
    name.stripPrefix("v=").toLongOption

  /** Live epoch dirs, and every epoch name a compaction manifest names. */
  private def state(s: SparkSession, store: String)
      : (Seq[Path], Set[String]) = {
    val (fs, root) = fsOf(s, store)
    if (!fs.exists(root)) return (Seq.empty, Set.empty)
    val committed = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath)
    val superseded = committed.flatMap { d =>
      val m = new Path(d, "_SUPERSEDES")
      if (!fs.exists(m)) Nil
      else {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in).getLines().toList
        finally in.close()
      }
    }.toSet
    (committed.filterNot(d => superseded.contains(d.getName)), superseded)
  }

  /** The replay rule over a store's [[state]]. */
  private def absorbs(live: Seq[Path], superseded: Set[String],
      batchId: Long): Boolean =
    (live.map(_.getName) ++ superseded).flatMap(idOf).exists(_ >= batchId)

  /** Has the store absorbed `batchId` (the replay rule)? */
  def absorbed(s: SparkSession, store: String, batchId: Long): Boolean = {
    val (live, superseded) = state(s, store)
    absorbs(live, superseded, batchId)
  }

  /** An append store's rows: the union of its live epochs, if any. */
  def read(s: SparkSession, store: String): Option[DataFrame] = {
    val dirs = state(s, store)._1.map(_.toString)
    if (dirs.isEmpty) None else Some(s.read.parquet(dirs: _*))
  }

  /** The rows of one epoch of an append store, as `batchId` wrote them. */
  def epoch(s: SparkSession, store: String, batchId: Long): DataFrame =
    s.read.parquet(epochDir(store, batchId))

  /** A replace store's latest version, if any batch has committed. */
  def latest(s: SparkSession, store: String): Option[DataFrame] =
    state(s, store)._1.flatMap(d => idOf(d.getName)).maxOption
      .map(v => s.read.parquet(epochDir(store, v)))

  /** Commit `rows` as epoch `batchId` of an append store, unless the store
    * absorbed the batch already. */
  def append(s: SparkSession, store: String, batchId: Long)
      (rows: => DataFrame): Unit =
    if (!absorbed(s, store, batchId))
      rows.write.mode("overwrite").parquet(epochDir(store, batchId))

  /** Commit `next(latest)` as version `batchId` of a replace store, unless
    * the store absorbed the batch already; then delete the versions past
    * the retention window. */
  def replace(s: SparkSession, store: String, batchId: Long)
      (next: Option[DataFrame] => DataFrame): Unit = {
    val (live, superseded) = state(s, store)
    if (absorbs(live, superseded, batchId)) return
    val versions = live.flatMap(d => idOf(d.getName))
    next(versions.maxOption.map(v => s.read.parquet(epochDir(store, v))))
      .write.mode("overwrite").parquet(epochDir(store, batchId))
    val (fs, _) = fsOf(s, store)
    versions.sorted.dropRight(RetainedVersions).foreach(v =>
      fs.delete(new Path(epochDir(store, v)), true))
  }

  /** Compact an append store (see the object doc). Returns true when it
    * compacted, false when it held at most one live epoch. */
  def compact(s: SparkSession, store: Append): Boolean = {
    val (live, priorSuperseded) = state(s, store.path)
    if (live.size <= 1) return false
    val (fs, root) = fsOf(s, store.path)
    val now = System.currentTimeMillis()
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("compact_staging_") &&
        now - st.getModificationTime > StaleStagingMs)
      .foreach(st => fs.delete(st.getPath, true))
    val staging = new Path(root, s"compact_staging_${System.nanoTime()}")
    store.merge(s.read.parquet(live.map(_.toString): _*))
      .write.mode("overwrite").parquet(staging.toString)
    val names = (live.map(_.getName).toSet ++ priorSuperseded).toSeq.sorted
    val manifest = fs.create(new Path(staging, "_SUPERSEDES"))
    try manifest.write(names.mkString("\n").getBytes("UTF-8"))
    finally manifest.close()
    val target = new Path(root, s"v=compact_${System.nanoTime()}")
    require(fs.rename(staging, target), s"compaction rename failed: $target")
    priorSuperseded.foreach(name => fs.delete(new Path(root, name), true))
    true
  }

  /** Compact each store holding more than [[MaxLiveEpochs]] live epochs. */
  private def compactOverfull(s: SparkSession, stores: Seq[Append]): Unit =
    stores.foreach { st =>
      if (state(s, st.path)._1.size > MaxLiveEpochs) compact(s, st)
    }

  /** The store writer. Every micro-batch runs `epoch(batch, id)`, which
    * applies the batch to its stores through [[append]] and [[replace]];
    * then `appends`, the append stores it writes, go through the
    * compaction trigger. A stateless query's batch is cheap to re-read
    * and seldom empty (an empty one commits an epoch that adds nothing),
    * so `epoch` just reads it. With `persist`, the batch
    * is cached across its reads and an empty one is skipped: for a
    * stateful query's batches, which are costly to recompute and often
    * empty (a url-dedup batch of refetches only). Caching a cheap batch
    * costs jobs and tasks that re-reading it does not. */
  def maintain(stream: DataFrame, checkpoint: String,
      appends: Seq[Append] = Nil, persist: Boolean = false)
      (epoch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        def run(): Unit = {
          epoch(batch, id)
          compactOverfull(batch.sparkSession, appends)
        }
        if (!persist) run()
        else {
          batch.persist()
          try if (!batch.isEmpty) run()
          finally batch.unpersist()
        }
      }
      .start()
}
