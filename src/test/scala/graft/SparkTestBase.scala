package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // local[4, 2]: allow ONE task retry, like a real cluster (default
    // maxFailures=4) — EngineRetrySpec injects a task failure to prove
    // ingest survives retries without index corruption.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** A fresh, existing dir under this JVM's [[graft.core.Scratch]] root,
    * so the JVM deletes it at exit. */
  def tmpDir(tag: String): String = {
    val p = graft.core.Scratch.dir(tag)
    new java.io.File(p).mkdirs()
    p
  }
}
