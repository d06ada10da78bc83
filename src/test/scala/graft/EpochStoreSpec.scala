package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EpochStore, StreamOps}

/** The streaming stores' shared on-disk format: staging-dir reaping,
  * commit-marker visibility on append stores, the writer's compaction
  * trigger, and that no other source file knows the format. */
class EpochStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Parsed pages in crawlIngestStream's output shape. */
  private type Parsed = (Long, String, Long, Seq[String])

  private def dirNames(store: String): Seq[String] =
    Option(new File(store).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.getName).toSeq

  test("compaction reaps an hour-old compact_staging dir in a postings store") {
    val store = SparkTestBase.tmpDir("epochstore_reap")
    val docs = Seq((1L, "spark joins"), (2L, "window spark")).toDF("doc_id", "text")
    graft.ops.Retrieval.applyPostingsBatch(docs.filter(col("doc_id") === 1L), 0L, store)
    graft.ops.Retrieval.applyPostingsBatch(docs.filter(col("doc_id") === 2L), 1L, store)
    // a crashed compaction's staging dir, two hours old, and a live
    // writer's, fresh
    val crashed = new File(store, "compact_staging_1")
    val live = new File(store, "compact_staging_2")
    Seq(crashed, live).foreach { d =>
      d.mkdirs(); Files.writeString(new File(d, "part-0").toPath, "x")
    }
    assert(crashed.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    val before = graft.ops.Retrieval.currentPostings(spark, store).get
      .collect().map(_.toString).sorted.toSeq
    assert(graft.ops.Retrieval.compactPostings(spark, store))
    assert(!crashed.exists(), "an hour-old staging dir survived compaction")
    assert(live.exists(), "a fresh staging dir was deleted")
    assert(graft.ops.Retrieval.currentPostings(spark, store).get
      .collect().map(_.toString).sorted.toSeq == before)
  }

  test("an append store's read skips an epoch dir with no _SUCCESS") {
    val docStore = SparkTestBase.tmpDir("epochstore_partial_docs")
    val dfStore = SparkTestBase.tmpDir("epochstore_partial_df")
    def batch(id: Long) = Seq[Parsed]((id, s"https://example.com/doc/$id", 1L,
      Seq(s"chunk of page $id"))).toDF("doc_id", "canon_url", "n_blocks", "kept")
    StreamOps.applyCrawlBatch(batch(0L), 0L, docStore, dfStore)
    // a crash mid-write of epoch 1: the files are there, the marker is not
    batch(7L).write.parquet(s"$docStore/v=1")
    new File(s"$docStore/v=1/_SUCCESS").delete()
    def docIds() = StreamOps.currentCrawlDocs(spark, docStore).get
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docIds() == Seq(0L), "a partial epoch became visible")
    // the replay of batch 1 overwrites the partial and commits
    StreamOps.applyCrawlBatch(batch(1L), 1L, docStore, dfStore)
    assert(docIds() == Seq(0L, 1L))
  }

  test("the writer compacts an append store past MaxLiveEpochs; serving " +
      "equals the uncompacted store") {
    // one page per batch: a shared boilerplate chunk (hot once df >= 3)
    // plus a unique one; the last batch lands after the compaction
    val n = EpochStore.MaxLiveEpochs + 2
    val pages: Seq[Seq[Parsed]] = (0 until n).map(i => Seq((i.toLong,
      s"https://example.com/doc/$i", 2L,
      Seq(s"unique chunk for page $i", "shared boilerplate chunk"))))
    def serve(docStore: String, dfStore: String) =
      graft.catalog.HtmlQueries.serveCrawl(
          spark, docStore, dfStore, minDf = 3, minChunks = 1)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toVector

    val (plainDocs, plainDf) =
      (SparkTestBase.tmpDir("autocompact_plain_docs"),
        SparkTestBase.tmpDir("autocompact_plain_df"))
    pages.zipWithIndex.foreach { case (p, i) => StreamOps.applyCrawlBatch(
      p.toDF("doc_id", "canon_url", "n_blocks", "kept"), i.toLong,
      plainDocs, plainDf) }

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (docStore, dfStore, ckpt) =
      (SparkTestBase.tmpDir("autocompact_docs"),
        SparkTestBase.tmpDir("autocompact_df"),
        SparkTestBase.tmpDir("autocompact_ckpt"))
    val mem = MemoryStream[Parsed]
    val q = StreamOps.maintainCrawl(
      mem.toDF().toDF("doc_id", "canon_url", "n_blocks", "kept"),
      docStore, dfStore, ckpt)
    try pages.foreach { p => mem.addData(p); q.processAllAvailable() }
    finally q.stop()

    Seq(plainDocs, plainDf).foreach(st =>
      assert(dirNames(st).count(_.startsWith("v=")) == n &&
        !dirNames(st).exists(_.startsWith("v=compact_")),
        s"the uncompacted store compacted: ${dirNames(st)}"))
    Seq(docStore, dfStore).foreach(st =>
      assert(dirNames(st).exists(_.startsWith("v=compact_")),
        s"the writer never compacted $st: ${dirNames(st)}"))
    val plain = serve(plainDocs, plainDf)
    assert(plain.map(_.head) == (0L until n.toLong).toVector)
    assert(serve(docStore, dfStore) == plain,
      "compaction changed serving")
  }

  test("the writer compacts the crawl-dedup stores past MaxLiveEpochs; " +
      "labels equal the uncompacted stores'") {
    // near-dup pair p is pages 2p and 2p+1 (100 shared words, a short
    // different tail). Evens arrive one per batch until the stores pass
    // the constant; every odd arrives in the last batch, after the
    // compaction, so each pair is verified against the compacted stores.
    def text(i: Long): String = {
      val shared = (0 until 100).map(w => s"prose${i / 2}w$w").mkString(" ")
      shared + (if (i % 2 == 0) " even tail marker words here"
        else " odd tail ending other words")
    }
    val pairs = EpochStore.MaxLiveEpochs + 1
    def parsed(ids: Seq[Long]): Seq[Parsed] = ids.map(i =>
      (i, s"https://example.com/doc/$i", 1L, Seq(text(i))))
    val feed = (0 until pairs).map(p => parsed(Seq(2L * p))) :+
      parsed((0 until pairs).map(p => 2L * p + 1))
    def labels(store: String) = StreamOps.currentComponents(spark, store).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toVector
    def stores(tag: String) = (SparkTestBase.tmpDir(s"${tag}_docs"),
      SparkTestBase.tmpDir(s"${tag}_bands"), SparkTestBase.tmpDir(s"${tag}_labels"))

    val (plainDocs, plainBands, plainLabels) = stores("autocompact_dedup_plain")
    feed.zipWithIndex.foreach { case (b, i) => StreamOps.applyCrawlDedupBatch(
      b.toDF("doc_id", "canon_url", "n_blocks", "kept"), i.toLong,
      plainDocs, plainBands, plainLabels,
      graft.catalog.DedupQueries.bandsOf,
      graft.catalog.DedupQueries.minhashPairsDelta) }

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (docStore, bandStore, labelStore) = stores("autocompact_dedup")
    val mem = MemoryStream[Parsed]
    val q = StreamOps.maintainCrawlDedup(
      mem.toDF().toDF("doc_id", "canon_url", "n_blocks", "kept"),
      docStore, bandStore, labelStore,
      SparkTestBase.tmpDir("autocompact_dedup_ckpt"),
      graft.catalog.DedupQueries.bandsOf,
      graft.catalog.DedupQueries.minhashPairsDelta)
    try feed.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()

    assert(!dirNames(plainBands).exists(_.startsWith("v=compact_")))
    Seq(docStore, bandStore).foreach(st =>
      assert(dirNames(st).exists(_.startsWith("v=compact_")),
        s"the writer never compacted $st: ${dirNames(st)}"))
    val plain = labels(plainLabels)
    assert(plain.groupBy(_._2).values.map(_.map(_._1).toSet).toSet ==
      (0 until pairs).map(p => Set(2L * p, 2L * p + 1)).toSet,
      s"wrong clusters: $plain")
    assert(labels(labelStore) == plain, "compaction changed the labels")
  }

  test("no source file but EpochStore.scala knows the store format") {
    val banned = Seq("_SUPERSEDES", "compact_staging_")
    val storePath = "[\"/]v=".r
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val files = sources(new File("src/main/scala"))
      .filter(_.getName != "EpochStore.scala")
    assert(files.length > 50, "main sources not found")
    val offenders = files.flatMap { f =>
      val text = Files.readString(f.toPath)
      (banned.filter(text.contains) ++
        storePath.findFirstIn(text).map(m => s"$m store path"))
        .map(b => s"${f.getPath}: $b")
    }
    assert(offenders.isEmpty,
      s"store-format knowledge outside EpochStore: $offenders")
  }
}
