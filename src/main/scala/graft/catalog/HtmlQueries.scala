package graft.catalog

import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.{Fixtures, Tables}
import graft.ops.{Html, HtmlFixtures}

/** HTML main-content extraction surface ([[graft.ops.Html]]) — the crawl
  * front-end upstream of `text_boilerplate_strip`. Two complementary
  * gates:
  *
  *  - `text_html_extract` is SF-COUPLED with a pure-SQL oracle and no
  *    frozen fixture: every document is wrapped in a deterministic page
  *    ([[Html.wrapDocument]] — chrome engineered so each chrome block is
  *    dropped by length or link density, paragraphs = the doc's 10-token
  *    chunks), and the DuckDB oracle replays the GENERATIVE contract
  *    (chunking + ≥ 25-char filter) rather than the parser — so the
  *    extraction pipeline (tag scan, script skip, entity decode,
  *    density/length verdicts) must land exactly on what the contract
  *    promises, cross-engine, at every SF. The contract requires
  *    single-space-separated document text (no whitespace runs, tabs,
  *    newlines, or edge spaces — the parser normalizes whitespace, the
  *    SQL sees it raw); [[Html.wrapDocument]] enforces this with a clear
  *    failure message so a fixture change can never surface as a bare
  *    md5 mismatch.
  *  - `text_html_extract_soup` runs the parser over 24 adversarial
  *    tag-soup pages ([[HtmlFixtures]]) whose expected extraction is
  *    frozen by GenOracleFixtures and staleness-gated in
  *    FixtureOracleSpec — the multimodal frozen-fixture pattern, covering
  *    the pathologies no clean generative contract can express.
  */
object HtmlQueries {

  /** Cascade thresholds, stated once: a chunk on ≥ [[CrawlMinDf]] pages
    * is cross-doc boilerplate; a page keeps iff ≥ [[CrawlMinChunks]]
    * chunks survive the strip. The batch entry, the streaming gate's
    * serving layer, and the shared SQL oracle all read these — two
    * independent statements of the thresholds silently diverging was a
    * review finding. */
  val CrawlMinDf = 3
  val CrawlMinChunks = 2

  /** Shared result shape: (n_blocks, n_kept, n_chars, main_text) — also
    * used by GenOracleFixtures (fixture rows bit-identical to the catalog
    * entry by construction) and HtmlSpec. */
  def extractStats(html: String): (Int, Int, Int, String) = {
    val bs = Html.blocks(html)
    val kept = bs.filter(_.keep)
    val main = kept.map(_.text).mkString("\n")
    (bs.size, kept.size, main.length, main)
  }

  val extract = Q(
    "text_html_extract",
    (s, dir) => {
      val exUdf = udf((t: String) => extractStats(Html.wrapDocument(t)))
      // coalesce(text, ''): a NULL-text doc must chunk to the same empty
      // page on BOTH engines (the oracle's string_split(NULL) would
      // otherwise drop the row entirely) — same invariant as
      // dedup_cluster_keep_best's
      Tables.documents(s, dir)
        .select(col("doc_id"),
          exUdf(coalesce(col("text"), lit(""))).as("r"))
        .select(col("doc_id"),
          col("r._1").cast("long").as("n_blocks"),
          col("r._2").cast("long").as("n_kept"),
          col("r._3").cast("long").as("n_chars"),
          md5(col("r._4")).as("main_md5"))
        .orderBy("doc_id")
    },
    // The generative contract in SQL: chunks of 10 space-split tokens;
    // expected main text = the ≥25-char chunks newline-joined; block
    // count = 6 chrome blocks (title, nav, 3 aside <li>, footer) +
    // nonempty chunks. See Html.wrapDocument for the census.
    Some("""
      WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
                 FROM documents),
      b AS (SELECT doc_id, toks, ((len(toks) + 9) // 10)::BIGINT AS n_chunks
            FROM w),
      chunks AS (SELECT doc_id, j AS chunk_no,
                        array_to_string(toks[(j*10+1):(j*10+10)], ' ') AS chunk
                 FROM b, unnest(range(0, n_chunks)) t(j)),
      keep AS (SELECT doc_id, chunk_no, chunk
               FROM chunks WHERE len(chunk) >= 25),
      agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                     (sum(len(chunk)) + count(*) - 1)::BIGINT AS n_chars,
                     md5(string_agg(chunk, chr(10) ORDER BY chunk_no))
                       AS main_md5
              FROM keep GROUP BY doc_id),
      nb AS (SELECT doc_id,
                    (6 + count(CASE WHEN len(chunk) > 0 THEN 1 END))::BIGINT
                      AS n_blocks
             FROM chunks GROUP BY doc_id)
      SELECT b.doc_id, nb.n_blocks,
             coalesce(agg.n_kept, 0) AS n_kept,
             coalesce(agg.n_chars, 0) AS n_chars,
             coalesce(agg.main_md5, md5('')) AS main_md5
      FROM b JOIN nb USING (doc_id) LEFT JOIN agg USING (doc_id)
      ORDER BY doc_id"""))

  val soup = Q(
    "text_html_extract_soup",
    (s, dir) => {
      import s.implicits._
      val exUdf = udf((h: String) => extractStats(h))
      HtmlFixtures.corpus.toDF("page_id", "html")
        .select(col("page_id"), exUdf(col("html")).as("r"))
        .select(col("page_id"),
          col("r._1").cast("long").as("n_blocks"),
          col("r._2").cast("long").as("n_kept"),
          md5(col("r._4")).as("main_md5"))
        .orderBy("page_id")
    },
    Some(s"""
      SELECT page_id, n_blocks::BIGINT AS n_blocks, n_kept::BIGINT AS n_kept,
             md5(main_text) AS main_md5
      FROM read_parquet('${Fixtures.path("html_extract_expected.parquet")}')
      ORDER BY page_id"""))

  /** The composed crawl-ingest cascade behind `doc_pipeline_crawl`,
    * factored out for HtmlSpec: markup → extraction → cross-doc
    * boilerplate chunk removal → reassembly + keep verdict, ONE plan.
    * `pageCol` already holds HTML (the catalog entry wraps documents
    * first; the spec feeds hand-built pages). */
  private[graft] def crawlFrom(
      pages: org.apache.spark.sql.DataFrame,
      minDf: Int = CrawlMinDf, minChunks: Int = CrawlMinChunks,
      pageCol: String = "page"): org.apache.spark.sql.DataFrame = {
    val keptUdf = udf((h: String) => Html.parseStats(h))
    val base = pages.select(col("doc_id"), keptUdf(col(pageCol)).as("r"))
      .select(col("doc_id"), col("r._1").cast("long").as("n_blocks"),
        col("r._2").as("kept"))
      .localCheckpoint(eager = true) // parse markup once, not per consumer
    // (three consumers below: the df count, the anti-join probe side, and
    // the final per-doc stats — the multimodal decode-once convention)
    // cross-doc boilerplate: any extracted chunk on >= minDf pages is
    // site chrome the DENSITY rule can't see (repeated PROSE, not links)
    val hot = base
      .select(col("doc_id"), explode(col("kept")).as("chunk"))
      .groupBy("chunk")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("chunk")
    assembleClean(base, hot, minChunks)
  }

  /** The cascade's post-parse stages, shared by the batch [[crawlFrom]]
    * and the `stream_crawl_exec` serving layer (which supplies `hot`
    * from the MAINTAINED chunk-df rollup instead of recomputing it):
    * hot-chunk broadcast anti-join, line-order-preserving reassembly,
    * and the ≥ `minChunks` keep verdict. `base` is (doc_id, n_blocks,
    * kept) — already parsed, markup long gone. */
  private[graft] def assembleClean(
      base: org.apache.spark.sql.DataFrame,
      hot: org.apache.spark.sql.DataFrame,
      minChunks: Int): org.apache.spark.sql.DataFrame = {
    val chunks = base.select(col("doc_id"),
      posexplode(col("kept")).as(Seq("pos", "chunk")))
    val clean = chunks.join(broadcast(hot), Seq("chunk"), "left_anti")
    val reassembled = clean.groupBy("doc_id")
      .agg(count(lit(1)).as("n_after"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk"))).cast("binary")).as("main_md5"))
    base.select(col("doc_id"), col("n_blocks"),
      size(col("kept")).cast("long").as("n_kept"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("main_md5"), md5(lit("").cast("binary"))).as("main_md5"),
        when(coalesce(col("n_after"), lit(0L)) >= minChunks, 1L)
          .otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** The crawl-ingest cascade END TO END in one plan — what a
    * RefinedWeb/CCNet front-end runs between raw pages and the curation
    * pipeline: markup parse + per-page density/length extraction
    * ([[Html.blocks]]), then CROSS-DOC boilerplate removal over the
    * extracted chunks (document frequency ≥ 3 — the repeated-prose chrome
    * per-page heuristics cannot see; the corpus's prefix-aligned
    * near-dups put real hot chunks at df ≥ 3), line-order-preserving
    * reassembly, and the integer keep verdict (≥ 2 surviving chunks —
    * pages that were chrome + shared boilerplate only are dropped). The
    * oracle replays the ENTIRE cascade: the generative extraction
    * contract + df-count + anti-join + ordered reassembly digest + the
    * verdict, so every stage boundary is inside the hash gate. 100 TB
    * shape: extraction is map-side (markup never shuffles); the df
    * aggregation shuffles CHUNKS (bounded by extracted text, not markup);
    * the hot set is distinct-high-df-chunks-sized and BROADCASTS into the
    * anti-join; reassembly is one doc-keyed aggregation. */
  val crawl = Q(
    "doc_pipeline_crawl",
    (s, dir) => {
      val pageUdf = udf((t: String) => Html.wrapDocument(t))
      crawlFrom(Tables.documents(s, dir)
        .select(col("doc_id"),
          pageUdf(coalesce(col("text"), lit(""))).as("page")))
    },
    Some(s"""
      WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
                 FROM documents),
      b AS (SELECT doc_id, toks, ((len(toks) + 9) // 10)::BIGINT AS n_chunks
            FROM w),
      chunks AS (SELECT doc_id, j AS chunk_no,
                        array_to_string(toks[(j*10+1):(j*10+10)], ' ') AS chunk
                 FROM b, unnest(range(0, n_chunks)) t(j)),
      keptc AS (SELECT doc_id, chunk_no, chunk
                FROM chunks WHERE len(chunk) >= 25),
      nb AS (SELECT doc_id,
                    (6 + count(CASE WHEN len(chunk) > 0 THEN 1 END))::BIGINT
                      AS n_blocks,
                    coalesce(sum(CASE WHEN len(chunk) >= 25 THEN 1 END),
                             0)::BIGINT AS n_kept
             FROM chunks GROUP BY doc_id),
      hot AS (SELECT chunk FROM (
                SELECT chunk, count(DISTINCT doc_id) AS df
                FROM keptc GROUP BY chunk) WHERE df >= $CrawlMinDf),
      clean AS (SELECT k.doc_id, k.chunk_no, k.chunk
                FROM keptc k LEFT JOIN hot h ON h.chunk = k.chunk
                WHERE h.chunk IS NULL),
      agg AS (SELECT doc_id, count(*)::BIGINT AS n_after,
                     md5(string_agg(chunk, chr(10) ORDER BY chunk_no))
                       AS main_md5
              FROM clean GROUP BY doc_id)
      SELECT b.doc_id, nb.n_blocks, nb.n_kept,
             coalesce(agg.n_after, 0) AS n_after,
             coalesce(agg.main_md5, md5('')) AS main_md5,
             (CASE WHEN coalesce(agg.n_after, 0) >= $CrawlMinChunks
                   THEN 1 ELSE 0 END)::BIGINT AS keep
      FROM b JOIN nb USING (doc_id) LEFT JOIN agg USING (doc_id)
      ORDER BY doc_id"""))

  /** The crawl cascade STARTING FROM ARCHIVE BYTES — [[crawl]] with its
    * page input read through the record-framed archive source
    * ([[graft.sources.Warc]]) instead of synthesized in-plan: raw
    * concatenated records → Content-Length framing → (url, html) rows →
    * the identical extraction/hot-chunk/reassembly cascade. Same oracle
    * as `doc_pipeline_crawl`, so the gate proves the archive roundtrip is
    * invisible to the pipeline — the last untested stage boundary
    * (raw bytes → page rows) is now inside a hash gate. */
  val crawlWarc = Q(
    "doc_pipeline_crawl_warc",
    (s, dir) => crawlFrom(
      graft.sources.Warc.readWarc(s, graft.sources.Warc.warcFixture(s, dir))
        .select(
          graft.sources.Warc.docIdFromUrl(col("url")).as("doc_id"),
          col("html").as("page"))),
    crawl.oracle)

  /** The crawl front-end under REAL micro-batch streaming execution
    * (VERDICT r12 ask 4) — every stage of `doc_pipeline_crawl`, but
    * continuous: each document is fetched once under its clean url and
    * REFETCHED in a later micro-batch under a noisy variant
    * (`HTTPS://WWW.…:443//doc//<id>/?utm_source=feed#frag`) that
    * [[graft.ops.Url.canonicalize]] maps to the same canonical form —
    * so stage 0's keyed first-wins state must drop every refetch across
    * batch boundaries before its markup is parsed. Survivors flow
    * through per-row extraction into the maintenance sink
    * ([[graft.streaming.StreamOps.maintainCrawl]]): a parsed-page store
    * plus per-epoch chunk-df deltas, both append
    * [[graft.streaming.EpochStore]]s. Serving
    * reads both and finishes the cascade via the SAME [[assembleClean]]
    * stage as the batch entry. Oracle: `doc_pipeline_crawl`'s, verbatim
    * — the continuously-maintained front-end must land on the identical
    * hash as the batch rebuild (refetches contribute nothing, the
    * rollup's summed per-batch dfs equal the batch cascade's
    * count_distinct). Restart coverage lives in StreamingSpec (kill
    * mid-feed, resume from the checkpoint, same hash). */
  val streamCrawlExec = Q(
    "stream_crawl_exec",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val pageUdf = udf((t: String) => Html.wrapDocument(t))
      val fetches = docs.select(col("doc_id"),
          concat(lit("https://www.example.com/doc/"), col("doc_id")).as("url"),
          pageUdf(col("text")).as("page"))
        .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("HTTPS://WWW.Example.com:443//doc//"), col("doc_id"),
            lit("/?utm_source=feed#frag")).as("url"),
          pageUdf(col("text")).as("page")))
      val rows = StreamFeed.collectCapped(fetches
        .select(
          // refetch shares its original's event time (+1e6 s epoch-0
          // guard) — arrival ORDER, not time, separates the batches
          timestamp_micros((col("doc_id") % 100000 + 1000000L) * 1000000L)
            .as("ts"),
          col("doc_id"), col("url"), col("page"))
        .as[(java.sql.Timestamp, Long, String, String)], "stream_crawl_exec")
        .sortBy(_._2)
      val root = StreamFeed.replay(s, "stream_crawl_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps.maintainCrawl(
          graft.streaming.StreamOps.crawlIngestStream(
            in.toDF("ts", "doc_id", "url", "page"), lateness = "7 days"),
          s"${run.dir}/docs", s"${run.dir}/df", s"${run.dir}/ckpt")
      }.dir
      serveCrawl(s, s"$root/docs", s"$root/df")
    },
    crawl.oracle)

  /** The FULL production crawl shape end to end: archive files arriving
    * CONTINUOUSLY — [[graft.sources.Warc.readWarcStream]] (Structured
    * Streaming file source over the archive format; each newly-dropped
    * file is discovered, checkpoint-logged, and parsed exactly once) →
    * per-record (url, fetch_ts, html) rows → the SAME in-stream front-end
    * as `stream_crawl_exec` (canonical-url first-wins state, map-side
    * extraction, maintained doc + chunk-df stores) → serving through the
    * batch cascade's assembly. The fixture's 8 archive files LAND in the
    * watched directory in 2 waves (atomic tmp-then-rename placement —
    * the file-source contract; a plain copy racing a listing would
    * truncate records silently) with a micro-batch boundary per wave, so
    * file DISCOVERY (not an in-memory stream) drives the stream across a
    * real batch boundary — the minimum wave count that exercises the
    * cross-batch composition (each wave is an epoch in both stores plus
    * per-batch stream overhead, so the gate stays at two).
    * Oracle: `doc_pipeline_crawl`'s, verbatim — raw bytes landing
    * continuously must hash-land on the batch rebuild. This is the
    * composition of the round's two features: q_source_warc proves the
    * framing, stream_crawl_exec proves the front-end, this gate proves
    * they compose. */
  val streamCrawlWarcExec = Q(
    "stream_crawl_warc_exec",
    (s, dir) => {
      val fixture = graft.sources.Warc.warcFixture(s, dir)
      val parts = new java.io.File(fixture).listFiles()
        .filter(_.getName.endsWith(".warc")).sortBy(_.getName)
      val root = StreamFeed.drive(s, "stream_crawl_warc_exec", 8) { run =>
        val landing = s"${run.dir}/landing"
        new java.io.File(landing).mkdirs()
        val parsed = graft.sources.Warc.readWarcStream(s, landing)
          .select(
            col("fetch_ts").as("ts"),
            graft.sources.Warc.docIdFromUrl(col("url")).as("doc_id"),
            col("url"), col("html").as("page"))
        val q = graft.streaming.StreamOps.maintainCrawl(
          graft.streaming.StreamOps.crawlIngestStream(parsed, lateness = "7 days"),
          s"${run.dir}/docs", s"${run.dir}/df", s"${run.dir}/ckpt")
        // one micro-batch per wave of landed files
        val waves = parts.grouped(math.max(1, parts.length / 2)).toSeq
        (q, waves.map { wave => () =>
          wave.foreach { f =>
            graft.sources.Warc.landArchive(landing, f.getName,
              java.nio.file.Files.readAllBytes(f.toPath))
          }
        })
      }.dir
      serveCrawl(s, s"$root/docs", s"$root/df")
    },
    crawl.oracle)

  /** The crawl serving layer, stated once (gates, specs, and the
    * crawlstream probe all read it): every committed parsed page +
    * the summed chunk-df deltas -> hot-chunk strip -> assembly. */
  def serveCrawl(
      s: org.apache.spark.sql.SparkSession, docStore: String,
      dfStore: String, minDf: Int = CrawlMinDf,
      minChunks: Int = CrawlMinChunks): org.apache.spark.sql.DataFrame = {
    val base = graft.streaming.StreamOps.currentCrawlDocs(s, docStore).get
    val hot = graft.streaming.StreamOps.currentChunkDf(s, dfStore).get
      .filter(col("n") >= minDf).select("chunk")
    assembleClean(base, hot, minChunks)
  }

  def qs: Seq[Q] =
    Seq(extract, soup, crawl, crawlWarc, streamCrawlExec, streamCrawlWarcExec)
}
