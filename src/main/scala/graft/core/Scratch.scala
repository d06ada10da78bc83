package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where this JVM keeps what it builds from a fixture: LSH forests, PQ,
  * IVF and SQ8 codes, engines, ground truth, pair sets, source-format
  * copies, the streaming gates' stores and the tools' working dirs.
  *
  *   - One root per JVM, `/tmp/graft/pid_<pid>`, created on first use and
  *     deleted when the JVM's file systems close at exit. No other JVM
  *     reads or deletes it, so two JVMs on one box never race on a cache.
  *   - First use reaps: this pid's leftover root (from an earlier process
  *     that had the same pid) and the roots of pids that are no longer
  *     alive (a JVM that was killed before its exit hooks ran). A live
  *     pid's root is never touched, and neither is anything outside
  *     [[Base]].
  *   - [[dir]] hands out fresh paths below the root, numbered by one
  *     counter; [[cached]] builds once per (name, fixture dir) in this JVM.
  *
  * A build cache never outlives its JVM, so a fixture regenerated in
  * place can only be read fresh by the next process.
  */
object Scratch {

  /** Parent of every JVM's root. */
  val Base = "/tmp/graft"

  private val pid = ProcessHandle.current().pid()

  private lazy val fs: FileSystem =
    FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  /** This JVM's root; the first access creates it and reaps. */
  lazy val root: String = {
    val own = new Path(s"$Base/pid_$pid")
    fs.delete(own, true)
    reap()
    fs.mkdirs(own)
    fs.deleteOnExit(own) // registers only a path that exists
    own.toUri.getPath
  }

  /** Delete the roots under [[Base]] whose pid is no longer alive. */
  private[graft] def reap(): Unit =
    Option(fs.globStatus(new Path(s"$Base/pid_*"))).toSeq.flatten.foreach { st =>
      val other = st.getPath.getName.stripPrefix("pid_").toLongOption
      val alive = other.exists { p =>
        val h = ProcessHandle.of(p)
        h.isPresent && h.get.isAlive
      }
      // a concurrent reaper may delete it first
      if (other.isDefined && !alive) scala.util.Try(fs.delete(st.getPath, true))
    }

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  /** A fresh path under [[root]], not yet created. */
  def dir(name: String): String = s"$root/${name}_${ids.incrementAndGet()}"

  private val memo = scala.collection.concurrent.TrieMap[(String, String), Any]()

  /** `build`'s result for (`name`, fixture `dir`), built once per JVM into
    * a fresh [[dir]]. Names that share a fixture dir must differ in
    * everything their build depends on besides the fixture. */
  def cached[T](name: String, dir: String)(build: String => T): T =
    memo.getOrElseUpdate((name, dir), build(Scratch.dir(name))).asInstanceOf[T]

  /** [[cached]] for a frame: written once as parquet, read back per call. */
  def parquet(s: SparkSession, name: String, dir: String)
      (build: => DataFrame): DataFrame =
    s.read.parquet(cached(name, dir) { p =>
      build.write.mode("overwrite").parquet(p)
      p
    })
}
