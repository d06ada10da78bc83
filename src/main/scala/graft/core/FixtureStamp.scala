package graft.core

import org.apache.spark.sql.SparkSession

/** Content stamp of a fixture directory — the cache-key component that
  * makes the per-JVM `/tmp/graft_*` build caches (LSH forests, PQ codes,
  * IVF indexes, verified-pair tables, ground truth) safe across process
  * restarts: the r15 verdict flagged that those paths were keyed on the
  * fixture DIR STRING alone, so a fixture regenerated at the same path
  * would keep serving intermediates built from the OLD data. The stamp
  * digests the directory's file inventory (relative path, length, mtime)
  * — any regeneration changes mtimes, so the derived cache paths roll
  * over and stale intermediates are never read again (the orphaned dirs
  * are /tmp-lifetime garbage, reaped by the OS).
  *
  * One recursive listing per (JVM, dir) — memoized once the dir exists;
  * fixture dirs are a handful of parquet files, so the listing is
  * microseconds against any build this keys. */
object FixtureStamp {
  private val cache = scala.collection.concurrent.TrieMap[String, String]()

  /** 12-hex-char content stamp of `dir` (md5 over the sorted file
    * inventory, truncated — a cache discriminator, not a security
    * boundary). Missing dirs stamp as "absent": callers fail later with
    * the real read error, not here. "absent" is never memoized, so a dir
    * generated after its first probe gets its content stamp from then on. */
  def of(s: SparkSession, dir: String): String = cache.get(dir).getOrElse {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      def walk(d: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(d).sortBy(_.getPath.getName).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else md.update(
            s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n"
              .getBytes("UTF-8"))
        }
      walk(p)
      cache.getOrElseUpdate(dir, md.digest().take(6).map(b => f"$b%02x").mkString)
    }
  }

  /** The standard cache-path component for a fixture dir: the sanitized
    * dir string (human-readable, the pre-r16 key) plus the content stamp
    * (the staleness guard). Every `/tmp/graft_*` build cache keys on
    * this. */
  def key(s: SparkSession, dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + of(s, dir)
}
