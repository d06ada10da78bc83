package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{RetrievalQueries, StreamFeed}
import graft.core.Scratch

/** The exec gates' replay harness: the query is stopped whatever the feed
  * does, every invocation gets its own dirs under this JVM's root, no
  * other process's store is touched, and no catalog file replays a stream
  * by hand. */
class StreamFeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val pid = ProcessHandle.current().pid()

  /** The store dirs a stream_bm25_exec result reads from. */
  private def storeDirs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => f.substring(0, f.indexOf("/store/"))).toSet

  test("a batch list that throws mid-replay stops the query and restores the conf") {
    import spark.implicits._
    val partitionsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    var sink = ""
    val batches = (1 to 3).view.map { i =>
      if (i == 2) throw new IllegalStateException("feed broke")
      Seq(i.toLong)
    }
    val e = intercept[IllegalStateException] {
      StreamFeed.replay(spark, "streamfeed_spec", 2, batches) { (in, run) =>
        sink = run.sink
        in.writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
    }
    assert(e.getMessage == "feed broke")
    assert(spark.streams.active.isEmpty, "the replay left a query running")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitionsBefore)
    // the batch before the failure ended at a micro-batch boundary
    assert(spark.table(sink).as[Long].collect().toSeq == Seq(1L))
  }

  test("two back-to-back stream_bm25_exec runs return equal rows from distinct dirs") {
    def once() = {
      val df = RetrievalQueries.bm25StreamExec.run(spark, SparkTestBase.sf0001)
      (df.collect().toSeq, storeDirs(df))
    }
    val (rows1, dirs1) = once()
    val (rows2, dirs2) = once()
    assert(rows1.nonEmpty)
    assert(rows1 == rows2)
    assert(dirs1.size == 1 && dirs2.size == 1 && dirs1 != dirs2)
    (dirs1 ++ dirs2).foreach(d =>
      assert(d.contains(s"${Scratch.Base}/pid_$pid/"), s"$d is not this JVM's"))
    assert(spark.streams.active.isEmpty)
  }

  test("a gate run leaves another process's planted store alone") {
    // another live JVM's bm25 store, where that JVM keeps it: under its
    // own pid, and in the shared run_<n> dirs of builds that numbered runs
    // per JVM (so every JVM's first run used run_1)
    val other = ProcessHandle.current().parent().get().pid()
    val planted = (s"${Scratch.Base}/pid_$other/stream_bm25_exec_1/store" +:
      (1 to 8).map(n => s"/tmp/graft_stream_postings/run_$n"))
      .map(new File(_))
    val markers = planted.map { d =>
      d.mkdirs()
      Files.writeString(new File(d, "in_flight").toPath, "another process")
    }
    try {
      RetrievalQueries.bm25StreamExec.run(spark, SparkTestBase.sf0001).collect()
      markers.foreach(m => assert(Files.exists(m), s"$m was deleted"))
    } finally {
      markers.foreach(Files.deleteIfExists)
      // the planted dirs and the parents they needed, where left empty
      planted.foreach(d => Iterator.iterate(d)(_.getParentFile)
        .takeWhile(_.getPath != "/tmp").foreach(_.delete()))
    }
  }

  test("catalog files replay streams only through StreamFeed") {
    val banned = Seq("MemoryStream", "processAllAvailable", "SinkIds",
      "RunIds", "/tmp/graft_stream")
    val files = new File("src/main/scala/graft/catalog").listFiles()
      .filter(f => f.getName.endsWith(".scala") && f.getName != "StreamFeed.scala")
    assert(files.length > 10, "catalog sources not found")
    val offenders = files.toSeq.flatMap { f =>
      val text = Files.readString(f.toPath)
      banned.filter(text.contains).map(b => s"${f.getName}: $b")
    }
    assert(offenders.isEmpty,
      s"catalog code outside StreamFeed replays a stream by hand: $offenders")
  }
}
