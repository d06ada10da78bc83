package graft.engine

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.Embedder
import graft.functions.Distances
import graft.index.LshForest
import graft.ops.{IvfPq, SimSearch}

/** Engine configuration — the runtime equivalent of the reference's
  * compile-time type parameters `Database<N, Met, Mod>`
  * (reference: src/database/core.rs:55-64). */
final case class EngineConfig(
    dim: Int,
    metric: String = "l2sq",
    numTrees: Int = 15,
    maxNodeSize: Int = 5,
    seed: Long = 42L,
    indexKind: String = "lsh") {
  require(Set("lsh", "ivfpq", "sq8", "pq")(indexKind),
    s"unknown indexKind '$indexKind' (lsh | ivfpq | sq8 | pq)")
  def distanceMetric: Distances.Metric = Distances.byName(metric)
}

/** The engine lifecycle (reference: src/database/core.rs:92-254) as a
  * Spark-native database rooted at a directory:
  *
  * {{{
  *   <path>/zebra.json        metadata (dim, metric, index options)  [.zebra file, core.rs:183-190]
  *   <path>/vectors/          parquet (id, seq, embedding, document) [fjall KV + doc files]
  *   <path>/index/            LSH bucket table (id, tree_id, leaf_id),  [tree blobs]
  *                            flat, files sorted by (tree_id, leaf_id)
  *   <path>/index_model.bin   broadcast-able forest (hyperplanes)
  * }}}
  *
  * Mutations are table rewrites (stage to a sibling dir, then atomic swap)
  * instead of the reference's per-key LSM writes; remove/deduplicate use the
  * *intended* semantics, not the reference's root-leaf-only prune bug
  * (lsh.rs:487 — SURVEY.md §7.5). Documents live as a BINARY column, so
  * D12/D13 (per-doc LZ4 files) collapse into parquet column compression.
  *
  * The monotone `seq` column reproduces UUIDv7 insertion ordering
  * (lsh.rs:415) — "first-inserted wins" for deduplicate.
  *
  * Read-schema rule: every read of the vectors and index tables goes
  * through [[readTable]], which hands parquet the table's schema instead
  * of letting it infer one. Inference is a Spark job per read (a footer
  * scan), and a single-query lookup reads both tables; with the schema
  * supplied, building a query DataFrame launches no job. The
  * schema is inferred at most once per table per engine instance, and
  * dropped whenever the engine rebuilds or clears that table. Appends keep
  * it (they write the same columns), and a rewrite that swaps a table in
  * replaces it with the schema of the frame it wrote.
  */
final class ZebraEngine private (
    val spark: SparkSession, val path: String, val config: EngineConfig) {
  import ZebraEngine._

  private def vectorsDir = s"$path/vectors"
  private def indexDir = s"$path/index"
  private def modelFile = s"$path/index_model.bin"

  /** Read schemas of the engine's tables, keyed by dir (see the class
    * doc's read-schema rule). */
  @volatile private var readSchemas: Map[String, StructType] = Map.empty

  /** An engine table read with its cached schema: no inference job after
    * the first read of `dir` on this instance. */
  private def readTable(dir: String): DataFrame = {
    val schema = readSchemas.getOrElse(dir, {
      val inferred = spark.read.parquet(dir).schema
      readSchemas += dir -> inferred
      inferred
    })
    spark.read.schema(schema).parquet(dir)
  }

  /** Drop `dir`'s cached schema: the table was swapped, rebuilt or
    * cleared, so the next read infers it again. */
  private def forgetSchema(dir: String): Unit = readSchemas -= dir

  /** D1-adjacent: the vectors table (empty DF with the right schema when
    * nothing has been inserted yet). */
  def vectors: DataFrame =
    if (hasData(vectorsDir)) readTable(vectorsDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], recordSchema)

  /** Corpus size, cached per engine instance: the IVF-PQ default rerank
    * budget consults it on EVERY query call, and a parquet count() —
    * though footer-metadata-only — is still a scheduler round-trip that
    * would dominate small-batch query latency; an LSH lookup bounds its
    * candidate pairs with it. Every mutator keeps it from the row count
    * its own write observed. */
  @volatile private var countCache: Long = -1L

  def count(): Long = {
    val c = countCache
    if (c >= 0L) c
    else { val n = vectors.count(); countCache = n; n }
  }

  /** I14 `is_empty` / `no_vectors` (reference: lsh.rs:389-409). */
  def isEmpty: Boolean = !hasData(vectorsDir) || vectors.isEmpty

  /** Next free seq. The first call scans parquet footer stats across the
    * whole table — O(files), which at ingest rates of many batches against
    * a large table dominates the append — so the watermark is cached and
    * advanced from each batch's max seq, observed by the batch's own write.
    * Concurrent writers to one engine dir were never supported; the cache
    * doesn't change that contract. */
  @volatile private var seqWatermark: Long = -1L

  private def nextSeq(): Long =
    if (seqWatermark >= 0L) seqWatermark
    else if (!hasData(vectorsDir)) { seqWatermark = 0L; 0L }
    else {
      val next = vectors.agg(coalesce(max("seq"), lit(-1L))).head().getLong(0) + 1L
      seqWatermark = next
      next
    }

  /** D9 `insert_records` (reference: core.rs:245-254): append records and,
    * if an index exists, route the new batch through the EXISTING broadcast
    * trees and append to their leaves — the reference's incremental `add`
    * (I7, lsh.rs:440-466) as a micro-batch append. Leaf overflow is handled
    * by [[refreshIndex]] compaction rather than per-insert splitting (I8's
    * per-row tree mutation is the one genuinely non-Spark-shaped op —
    * SURVEY.md §7.5).
    *
    * `records` needs (embedding ARRAY<FLOAT>); optional id STRING and
    * document BINARY columns are preserved, missing ids are minted. */
  def insertRecords(records: DataFrame): Unit = {
    val base = nextSeq()
    // the first write counts from 0
    if (countCache < 0L && !hasData(vectorsDir)) countCache = 0L
    // seq = base + monotonically_increasing_id(): unique within the batch,
    // strictly greater than every previous batch's seq (ids are < 2^63-base),
    // and computed without any shuffle — a global row_number window would
    // funnel the whole batch through one partition. Values are sparse, not
    // contiguous; only their ORDER carries meaning (insertion precedence).
    val withSeq = records
      .withColumn("seq", lit(base) + monotonically_increasing_id())
    val withId =
      if (records.columns.contains("id")) withSeq
      else withSeq.withColumn("id", format_string("v%012d", col("seq")))
    val withDoc =
      if (records.columns.contains("document")) withId
      else withId.withColumn("document", lit(null).cast(BinaryType))
    val batch = withDoc.select("id", "seq", "embedding", "document")
    // The batch's max seq and row count ride along the write as observed
    // metrics (accumulators merged from committed task attempts only, so a
    // retried task is counted once) instead of a second aggregate job.
    val stats = Observation()
    batch.observe(stats, max("seq").as("max_seq"),
        org.apache.spark.sql.functions.count(lit(1)).as("rows"))
      .write.mode(SaveMode.Append).parquet(vectorsDir)
    val observed = stats.get
    // an empty batch observes a null max: the watermark stays at base
    seqWatermark = Option(observed("max_seq")).fold(base)(_.asInstanceOf[Long] + 1L)
    if (countCache >= 0L) countCache += observed("rows").asInstanceOf[Long]
    // Route the index from the rows JUST WRITTEN, not from the lazy `batch`
    // plan: monotonically_increasing_id() is non-deterministic across
    // re-executions and task retries, so running the plan a second time for
    // the index write could mint seq/ids that don't match the stored
    // vectors — silent index corruption (missing/phantom candidates at
    // query time). seq >= base selects exactly this batch, and parquet
    // min/max stats prune every older file from the read-back.
    val written = readTable(vectorsDir).filter(col("seq") >= base)
    config.indexKind match {
      case "ivfpq" =>
        // route the batch through the EXISTING quantizers (I7's shape):
        // coarse assignment + codes, appended into the cell partitions
        loadIvfPqModel().foreach { m =>
          graft.ops.Ivf.assign(written, m.coarse, vecId = "id")
            .drop("embedding")
            .join(graft.ops.Pq.encode(written, m.pq, vecId = "id"), Seq("id"))
            .repartition(col("cell_id"))
            .write.mode(SaveMode.Append).partitionBy("cell_id").parquet(indexDir)
        }
      case "sq8" =>
        // FROZEN bounds (the frozen-quantizer increment pattern): encode
        // stays linearly exact even for values outside the trained
        // [min, max] — code and reconstruction are inverse affine maps, so
        // drift costs only step size, never correctness of the shortlist
        // contract (rerank fixes the rest)
        loadSqModel().foreach { m =>
          graft.ops.Sq.encode(written, m, vecId = "id")
            .write.mode(SaveMode.Append).parquet(indexDir)
        }
      case "pq" =>
        loadPqModel().foreach { m =>
          graft.ops.Pq.encode(written, m, vecId = "id")
            .write.mode(SaveMode.Append).parquet(indexDir)
        }
      case _ =>
        // read back, route and append in one job: each read-back task
        // sorts its own rows by (tree_id, leaf_id) and writes one flat
        // file, so nothing shuffles
        loadModel().foreach { model =>
          LshForest.bucketTable(written, model, vecId = "id")
            .sortWithinPartitions("tree_id", "leaf_id")
            .write.mode(SaveMode.Append).parquet(indexDir)
        }
    }
  }

  /** D8 `insert_documents` (core.rs:232-235): embed then insert. */
  def insertDocuments(docs: DataFrame, embedder: Embedder): Unit =
    insertRecords(embedder.embed(docs, "document", "embedding"))

  /** D11 `query_vectors` (core.rs:290-313): batch top-k, one plan. Uses the
    * LSH forest when an index has been built, brute-force otherwise.
    * `searchK` overrides the per-tree candidate budget (recall/latency
    * dial; an exhaustive budget degenerates to exact kNN). */
  def queryVectors(
      queries: DataFrame, k: Int, searchK: Option[Int] = None,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val m = config.distanceMetric
    // Filtered search: the predicate narrows the stored-records frame
    // BEFORE the rerank/scoring joins, so it reaches the parquet scan and
    // non-matching candidates die unfetched. With an index, the candidate
    // budget is scaled by the MEASURED 1/selectivity internally (one
    // count() on the filtered frame, column-pruned to the predicate;
    // the corpus total comes from the cached count()) — `searchK` is the
    // pre-filter budget and needs no caller-side scaling. At exhaustive
    // budget the result is algebraically the exact kNN of the filtered
    // records under any predicate.
    // `vectors` once: `where.map(vectors.filter)` would read the table
    // even when `where` is None (eta-expansion evaluates the receiver)
    val all = vectors
    val recs = where.fold(all)(all.filter)
    // Selectivity of the predicate, 1.0 when unfiltered; lazy so the
    // extra count job only runs on indexed filtered paths.
    lazy val keptCount = where.map(_ => recs.count()).getOrElse(count())
    def exact = SimSearch.exactTopK(queries, recs, k, metric = m, vecId = "id")
    config.indexKind match {
      case "ivfpq" =>
        loadIvfPqModel() match {
          case Some(model) if hasData(indexDir) =>
            // searchK plays its LSH role of the candidate budget: it is
            // the rerank size, and an exhaustive budget also probes every
            // cell — so full-budget queries degenerate to exact kNN under
            // ANY metric (the shortlist is the whole corpus).
            val full = searchK.exists(_ >= Int.MaxValue)
            val nprobe =
              if (full || where.isDefined) model.coarse.nlist
              else math.max(1, (model.coarse.nlist * 3) / 4)
            // Default rerank follows the occupancy sizing law rather than a
            // fixed 32·k: the scale probe showed fixed shortlists decay to
            // recall 0.41 at 1.6M vectors (SURVEY §8.2) — the budget must
            // track how many rows the probed cells actually hold. Filtered
            // search probes every cell (survivors may live anywhere) and
            // scales the rerank shortlist by 1/selectivity.
            val baseRerank = searchK.getOrElse(
              IvfPq.defaultRerank(k, count(), nprobe, model.coarse.nlist))
            val rerank =
              if (where.isDefined)
                LshForest.scaledBudget(baseRerank, keptCount, count())
              else baseRerank
            IvfPq.topK(
              queries, readTable(indexDir), recs, model, k,
              nprobe = nprobe, rerank = rerank,
              metric = m, vecId = "id")
          case _ => exact
        }
      case "sq8" | "pq" =>
        // COMPRESSED-SCAN serving (the 100 TB memory lever in the product
        // API, VERDICT r13 ask 7): shortlist from a codes-only scan (4 x
        // smaller for SQ8, ~30x for PQ16 at 64-d), exact rerank of just
        // the shortlist. The rerank budget follows the same occupancy law
        // as IVF-PQ's (corpus-tracking, never fixed); `searchK` overrides
        // it, and an exhaustive budget degenerates to exact kNN under any
        // metric. Filtered search semi-joins the code table down to the
        // predicate's survivors FIRST and scales the budget by measured
        // 1/selectivity — same contract as the other families.
        val quantized = hasData(indexDir) &&
          (config.indexKind == "sq8" && loadSqModel().isDefined ||
            config.indexKind == "pq" && loadPqModel().isDefined)
        if (!quantized) exact
        else {
          val baseRerank = searchK.getOrElse(
            graft.ops.Pq.defaultRerank(k, count()))
          val rerank =
            if (where.isDefined)
              LshForest.scaledBudget(baseRerank, keptCount, count())
            else baseRerank
          // never materialize a shortlist larger than the (filtered)
          // corpus: Int.MaxValue budgets mean "exhaustive", not "allocate"
          val cappedRerank =
            math.max(k, math.min(rerank.toLong, keptCount).toInt)
          val codes0 = readTable(indexDir)
          val codes = where
            .map(_ => codes0.join(recs.select("id"), Seq("id"), "left_semi"))
            .getOrElse(codes0)
          if (config.indexKind == "sq8")
            graft.ops.Sq.topKRerank(queries, codes, recs, loadSqModel().get,
              k, cappedRerank, metric = m, vecId = "id")
          else
            graft.ops.Pq.topK(queries, codes, recs, loadPqModel().get,
              k, cappedRerank, metric = m, vecId = "id")
        }
      case _ =>
        loadModel() match {
          case Some(model) if hasData(indexDir) =>
            val sk = where match {
              case Some(_) =>
                val base =
                  searchK.getOrElse(LshForest.defaultSearchK(k, model))
                Some(LshForest.scaledBudget(base, keptCount, count()))
              case None => searchK
            }
            // the live count bounds the pairs: inserts grew the leaves
            // past the model's build sample
            LshForest.topK(
              queries, readTable(indexDir), recs, model, k,
              metric = m, searchKOpt = sk, vecId = "id",
              liveRows = Some(count()))
          case _ => exact
        }
    }
  }

  /** D10 `query_documents` (core.rs:267-277): embed queries, then D11,
    * then join each hit's stored document back (free — column projection).
    * `searchK` passes through to D11's candidate budget. */
  def queryDocuments(
      docs: DataFrame, embedder: Embedder, k: Int,
      searchK: Option[Int] = None): DataFrame = {
    val q = embedder.embed(docs, "document", "embedding")
    queryVectors(q, k, searchK)
      .join(vectors.select(col("id"), col("document")), Seq("id"))
      .select(col("query_id"), col("id"), col("dist"), col("document"))
  }

  /** HYBRID retrieval over the engine's own tables (beyond the reference,
    * which has no lexical search): a BM25 leg over the stored documents
    * (decoded UTF-8) and a vector ANN leg (the D10 embed → D11 search
    * path), fused by reciprocal-rank fusion. Each leg retrieves a BOUNDED
    * top-`legK`, so the fusion join and final ordering touch at most
    * 2·legK rows — the global sort is over a constant-size set regardless
    * of corpus size, and each leg keeps its own 100 TB shape (term-filtered
    * postings / index-routed candidates). Returns the fused top-`k` as
    * (id, r_vec, r_lex, rrf_1e6) ordered by fused score desc, id asc.
    *
    * Id-ordering note: ties break on the STRING id, so a numeric oracle
    * agrees only while the id format keeps lexicographic = numeric order
    * (the engine's zero-padded `d%06d` ids do, for doc_id < 1e6 — same
    * envelope as the rag_chunk `vec_id = doc_id*1e6 + chunk_id` encoding,
    * which now raises in-plan on overflow). Wider corpora need a wider
    * pad or a numeric tie-break column. */
  def queryHybrid(
      queryText: String, embedder: Embedder, k: Int = 10,
      legK: Int = 100, searchK: Option[Int] = None,
      where: Option[Column] = None): DataFrame = {
    import spark.implicits._
    queryHybridBatch(Seq((0L, queryText)).toDF("query_id", "query_text"),
      embedder, k, legK, searchK, where)
      .orderBy(col("rrf_1e6").desc, col("id"))
      .select(col("id"), col("r_vec"), col("r_lex"), col("rrf_1e6"))
  }

  /** BATCH hybrid retrieval: `queries` is (query_id, query_text); the
    * whole batch runs as ONE plan — the BM25 postings shuffle, the
    * document-frequency aggregation and the ANN candidate join are shared
    * across queries, with per-query work appearing only in bounded frames
    * (per-query term sets broadcast; rank windows partitioned by query_id
    * over ≤ legK rows; fusion keyed on (query_id, doc_id)). `where`
    * composes into BOTH legs: it narrows the stored-records frame before
    * the BM25 postings explode AND before the vector leg's scoring joins
    * (where [[queryVectors]] scales the candidate budget by measured
    * 1/selectivity) — so corpus statistics (dl, df, N) and rankings are
    * those of the FILTERED corpus, and at exhaustive budget the result is
    * algebraically the hybrid search of the filtered corpus. Returns
    * (query_id, id, r_vec, r_lex, rrf_1e6), top-`k` per query. */
  def queryHybridBatch(
      queries: DataFrame, embedder: Embedder, k: Int = 10,
      legK: Int = 100, searchK: Option[Int] = None,
      where: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{array_distinct, filter => afilter, row_number, split => fsplit}
    val all = vectors
    val recs = where.fold(all)(all.filter)
    val docs = recs.select(
      col("id").as("doc_id"), col("document").cast("string").as("text"))
    // Per-query DISTINCT term sets, derived in-plan (no driver round-trip
    // on the query table): same tokenizer as the single-query form.
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(afilter(
        fsplit(lower(col("query_text")), "[^\\p{L}\\p{Nd}]+"),
        t => t =!= ""))).as("word"))
    val lex = graft.ops.Retrieval.bm25TopKBatch[String](docs, qterms, legK)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val q = embedder.embed(
      queries.select(col("query_id"), col("query_text").as("document")),
      "document", "embedding")
    // legK hits per query: the rank window is over a bounded frame.
    val vec = queryVectors(q.select(col("query_id"), col("embedding")), legK,
        searchK, where)
      .select(col("query_id"), col("id").as("doc_id"), col("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dist"), col("doc_id"))).cast("long"))
      .select(col("query_id"), col("doc_id"), col("rk"))
    graft.ops.Retrieval
      .rrfFuse(Seq("vec" -> vec, "lex" -> lex), groupCols = Seq("query_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_1e6").desc, col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id").as("id"),
        col("r_vec"), col("r_lex"), col("rrf_1e6"))
  }

  /** D6/I9 `remove` (core.rs:205-213): left-anti rewrite of vectors and
    * index — the intended semantics, not the reference's root-leaf-only
    * prune (lsh.rs:487). */
  def remove(ids: DataFrame): Unit = {
    val idCol = ids.columns.head
    countCache = rewrite(vectorsDir, vectors.join(
      ids.select(col(idCol).as("id")), Seq("id"), "left_anti"))
    if (hasData(indexDir))
      rewriteIndex(readTable(indexDir).join(
        ids.select(col(idCol).as("id")), Seq("id"), "left_anti"))
  }

  /** D7/I10 `deduplicate` (core.rs:216-224, lsh.rs:270-288): bit-exact
    * dedup, first-inserted (lowest seq) wins. Partitioned by the embedding's
    * hash AND the embedding itself: the hash keeps the partitioner cheap,
    * the full array guarantees a 64-bit collision between distinct vectors
    * never deletes a non-duplicate (the reference compares full bit
    * patterns, lsh.rs to_bits). The row shuffled by the window already
    * carries the embedding column, so the extra key costs nothing. */
  def deduplicate(): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("embedding")), col("embedding"))
      .orderBy(col("seq"))
    val kept = vectors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    countCache = rewrite(vectorsDir, kept)
    // the index keep-set comes from the REWRITTEN table: `kept` is a plan
    // over the files the swap just moved away
    if (hasData(indexDir))
      rewriteIndex(readTable(indexDir)
        .join(vectors.select("id"), Seq("id"), "left_semi"))
  }

  /** The index's REACHABLE bucket rows: leaf-local splits (see
    * [[compactIndexIfNeeded]]) leave stale rows whose leaf id no longer
    * exists in any tree — probes can never emit those ids, so queries
    * already ignore them; this view filters them for maintenance and
    * stats. The reachable set is a few-MB broadcast at most
    * (≈ sampleCap/maxNodeSize · numTrees pairs). */
  def liveIndex: DataFrame = {
    val buckets = readTable(indexDir)
    reachableLeaves match {
      case None => buckets
      case Some(reachable) =>
        buckets.join(broadcast(reachable), Seq("tree_id", "leaf_id"), "left_semi")
    }
  }

  /** Every (tree_id, leaf_id) some tree of the LSH model routes to, each
    * once (leaf ids are unique within a tree); None without a model. */
  private def reachableLeaves: Option[DataFrame] = loadModel().map { model =>
    import spark.implicits._
    model.trees.zipWithIndex.flatMap { case (t, i) =>
      LshForest.leafIds(t).map(l => (i, l))
    }.toSeq.toDF("tree_id", "leaf_id")
  }

  /** Bucket rows no tree can reach, counted in one aggregate over one
    * scan: a left join against the broadcast reachable set flags the live
    * rows, where counting the table and [[liveIndex]] apart scans twice. */
  private def staleIndexRows(): Long = reachableLeaves match {
    case None => 0L
    case Some(reachable) =>
      readTable(indexDir)
        .join(broadcast(reachable.withColumn("live", lit(true))),
          Seq("tree_id", "leaf_id"), "left")
        .agg(org.apache.spark.sql.functions.count(lit(1)) -
          org.apache.spark.sql.functions.count(col("live")))
        .head().getLong(0)
  }

  /** I8 leaf-split compaction (reference: lsh.rs:350-382 splits ONE
    * overflowing leaf in place): incremental adds only append to existing
    * leaves, so leaves grow past max_node_size over time. This finds every
    * reachable leaf above `factor`·max_node_size, re-splits JUST those
    * leaves driver-side (bounded — their membership is at most the ingest
    * volume since the last compaction), grafts the subtrees into the model,
    * and APPENDS only the re-routed member rows. The old leaf ids become
    * unreachable; their rows are dead weight queries never touch — the LSM
    * cost model the reference itself runs on (fjall) — and are reclaimed by
    * the next full [[refreshIndex]], which this falls back to when stale
    * rows outgrow live ones or the overflow membership is too big to fetch.
    * Returns true when any compaction work happened. */
  def compactIndexIfNeeded(factor: Double = 4.0): Boolean = {
    if (!hasData(indexDir) || loadModel().isEmpty) return false
    val n = count()
    // Leaf populations are CORPUS rows, but maxNodeSize bounds the leaf in
    // BUILD-SAMPLE rows. The floor any compaction can reach is what a FRESH
    // rebuild on today's corpus would give: maxNodeSize·(n / rebuild-sample)
    // — at 1M vectors over a 65k sample cap every leaf holds ~15x
    // maxNodeSize by design, and treating that as overflow would collect
    // the whole corpus driver-side. A tree that has outgrown its own build
    // sample (n far past model.sampleTotal, e.g. heavy incremental ingest
    // into a small index) still reads as overflowing against this bar.
    val rebuildSample = math.min(
      n, LshForest.byteBoundedCap(LshForest.Options().sampleCap, config.dim).toLong)
    val occupancyScale = math.max(1.0, n.toDouble / math.max(rebuildSample, 1L))
    val threshold = factor * config.maxNodeSize * occupancyScale
    val buckets = readTable(indexDir)
    val live = liveIndex
    val overflowing = live.groupBy("tree_id", "leaf_id").count()
      .filter(col("count") > threshold)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    if (overflowing.isEmpty) return false
    val staleRows = staleIndexRows()
    val memberRows = overflowing.map(_._3).sum
    // Fall back to a full rebuild when the dead weight dominates or the
    // overflow membership would strain the driver.
    if (staleRows > n * config.numTrees ||
        memberRows * config.dim > 512L * 1024 * 1024 / 8) {
      refreshIndex(); return true
    }
    var model = loadModel().get
    val sizeScale = model.sampleTotal.toDouble / math.max(n, 1L)
    import spark.implicits._
    val ovDf = overflowing.map(o => (o._1, o._2)).toSeq.toDF("tree_id", "leaf_id")
    val members = buckets
      .join(broadcast(ovDf), Seq("tree_id", "leaf_id"), "left_semi")
      .join(vectors.select(col("id"), col("embedding")), Seq("id"))
      .select(col("tree_id"), col("leaf_id"), col("id"),
        Distances.asDouble(col("embedding")).as("emb"))
      .collect()
    val newRows = Seq.newBuilder[(String, Int, Int)]
    // Sorted fold: leaf-id allocation inside a tree depends on split order,
    // so iterate deterministically.
    members.groupBy(r => (r.getInt(0), r.getInt(1))).toSeq.sortBy(_._1).foreach {
      case ((treeId, leafId), rows) =>
        val ids = rows.map(_.getString(2))
        val pts = rows.map(_.getSeq[Double](3).toArray)
        LshForest.splitLeaf(model, treeId, leafId, pts, sizeScale).foreach {
          case (m2, assign) =>
            model = m2
            ids.indices.foreach(i => newRows += ((ids(i), treeId, assign(i))))
        }
    }
    val routed = newRows.result()
    if (routed.isEmpty) return false // every overflowing leaf unsplittable
    // sorted on the driver: each local partition is a contiguous slice, so
    // every appended file is leaf-sorted without a sort stage
    routed.sortBy(r => (r._2, r._3)).toDF("id", "tree_id", "leaf_id")
      .write.mode(SaveMode.Append).parquet(indexDir)
    saveModel(model)
    true
  }

  /** Index VACUUM — reclaim the dead weight [[compactIndexIfNeeded]]'s
    * leaf-local splits leave behind (rows under leaf ids no tree can
    * reach; queries already ignore them, but they inflate every index
    * scan) WITHOUT a retrain: rewrite the REACHABLE rows only
    * ([[liveIndex]] — the broadcast-semi-join view), restoring the
    * leaf-sorted layout. Decouples space reclamation from model
    * retraining, which previously only a full [[refreshIndex]] did: the
    * model file is untouched, so routing — and therefore every query
    * result — is bit-identical pre/post (IncrementalSpec gates this; the
    * endurance probe asserts stale/live lands at 0.0 after an 11×-growth
    * ingest run). Returns the number of stale rows reclaimed. */
  def vacuumIndex(): Long = {
    if (!hasData(indexDir)) return 0L
    val stale = staleIndexRows()
    if (stale > 0L) rewriteIndex(liveIndex)
    stale
  }

  /** IVF-PQ staleness maintenance — the quantizer-family sibling of
    * [[compactIndexIfNeeded]]. Incremental ingest ([[insertRecords]])
    * routes new vectors through the FROZEN coarse centroids and PQ
    * codebooks, which stay exactly correct (every vector is assigned and
    * encoded) but drift in QUALITY as the corpus outgrows the fit:
    * cells fill past the ~sqrt(n) sizing rule (so a fixed nprobe scans
    * ever-fatter cells) and codebooks quantize a distribution they were
    * never fit on (so ADC ordering noise grows and the occupancy-scaled
    * rerank pays for it). Neither rots correctness the way LSH leaf
    * overflow does — there is no incremental half-measure worth taking
    * (re-fitting codebooks re-encodes every stored code anyway), so the
    * trigger goes straight to the full [[refreshIndex]] retrain, which
    * re-chooses nlist for today's corpus, refits both quantizers, and
    * rewrites the cell partitions in one pass.
    *
    * Fires when the corpus has grown past `growthFactor`× the size the
    * model was fit on (models from before staleness tracking, trainedOn=0,
    * read as always-stale). growthFactor=4 matches the LSH compaction
    * factor and keeps the amortized retrain cost logarithmic: each retrain
    * processes ≤ 4/3 of all rows ever ingested since the last one.
    * Returns true when a retrain happened. */
  def maintainIvfPqIfNeeded(growthFactor: Double = 4.0): Boolean = {
    if (config.indexKind != "ivfpq" || !hasData(indexDir)) return false
    loadIvfPqModel() match {
      case Some(m) =>
        val n = count()
        if (m.trainedOn > 0L && n < growthFactor * m.trainedOn) false
        else { refreshIndex(); true }
      case None => false
    }
  }

  private def trainedOnFile = s"$path/trained_on.txt"

  /** Staleness maintenance for the flat quantized kinds — the
    * [[maintainIvfPqIfNeeded]] analog for sq8/pq: incremental ingest
    * encodes through FROZEN quantizers, which stay CORRECT (SQ8's affine
    * map is linearly exact even out-of-range; PQ codes always decode to
    * their nearest trained centroid) but drift in QUALITY as the corpus
    * outgrows the fit — PQ codebooks quantize a distribution they were
    * never fit on, SQ8's step widens when new data exceeds the trained
    * extremes. There is no incremental half-measure (refitting either
    * quantizer re-encodes every stored code anyway), so the trigger goes
    * straight to [[refreshIndex]]. Fires past `growthFactor`× the corpus
    * size the quantizer was fit on (recorded in a `trained_on` sidecar at
    * build time; pre-sidecar indexes read as always-stale — the
    * trainedOn=0 convention). Returns true when a retrain happened. */
  def maintainQuantizedIfNeeded(growthFactor: Double = 4.0): Boolean = {
    if (config.indexKind != "sq8" && config.indexKind != "pq") return false
    if (!hasData(indexDir)) return false
    val trainedOn =
      try new String(Files.readAllBytes(Paths.get(trainedOnFile)),
        StandardCharsets.UTF_8).trim.toLong
      catch { case _: Throwable => 0L }
    if (trainedOn > 0L && count() < growthFactor * trainedOn) false
    else { refreshIndex(); true }
  }

  /** Build (or rebuild — leaf-split compaction) the configured index. */
  def refreshIndex(): Unit = {
    forgetSchema(indexDir)
    buildIndex()
  }

  private def buildIndex(): Unit = config.indexKind match {
    case "sq8" =>
      // exact per-dimension bounds (one aggregation, no RNG) + the 4x
      // codes table; a rebuild re-derives the bounds for today's corpus
      val model = graft.ops.Sq.train(vectors)
      graft.ops.Sq.encode(vectors, model, vecId = "id")
        .write.mode(SaveMode.Overwrite).parquet(indexDir)
      saveModel(model)
      Files.write(Paths.get(trainedOnFile),
        count().toString.getBytes(StandardCharsets.UTF_8))
      ()
    case "pq" =>
      // PQ16 when the dimension allows (16 bytes/vector), halving m until
      // it divides — the codebooks train on a bounded seeded sample
      val m = Seq(16, 8, 4, 2, 1).find(config.dim % _ == 0).get
      val model = graft.ops.Pq.train(vectors, m = m, vecId = "id")
      graft.ops.Pq.encode(vectors, model, vecId = "id")
        .write.mode(SaveMode.Overwrite).parquet(indexDir)
      saveModel(model)
      Files.write(Paths.get(trainedOnFile),
        count().toString.getBytes(StandardCharsets.UTF_8))
      ()
    case "ivfpq" =>
      // nlist ~ sqrt(n): cells stay ~sqrt(n)-sized, the classic IVF rule
      val n = count()
      val nlist = math.max(16, math.min(4096, math.sqrt(n.toDouble).toInt))
      val model = IvfPq.train(vectors, nlist = nlist, vecId = "id",
        trainedOn = n)
      IvfPq.buildIndex(vectors, model, indexDir, vecId = "id")
      saveModel(model)
    case _ =>
      val model = LshForest.build(
        vectors, LshForest.Options(
          config.numTrees, config.maxNodeSize, config.seed), vecId = "id")
      LshForest.writeIndex(vectors, model, indexDir, vecId = "id")
      saveModel(model)
  }

  /** In-process model cache, stamped with the file's (mtime, length): at a
    * 65k-sample forest the serialized model is hundreds of MB of small Node
    * objects, and deserializing it per query call dominated end-to-end
    * latency ~30x at the 1M-vector scale probe. The stamp keeps the cache
    * coherent when another process (or a saveModel here) rewrites the file. */
  @volatile private var modelCache: Option[((Long, Long), AnyRef)] = None

  /** Stamp-cached deserialization of whatever model the configured index
    * kind persisted (the file holds a ForestModel or an IvfPqModel). */
  private def loadRawModel(): Option[AnyRef] = {
    val f = new File(modelFile)
    if (!f.exists()) { modelCache = None; None }
    else {
      val stamp = (f.lastModified(), f.length())
      modelCache match {
        case Some((s, m)) if s == stamp => Some(m)
        case _ =>
          val in = new ObjectInputStream(new FileInputStream(f))
          val m = try in.readObject() finally in.close()
          modelCache = Some((stamp, m))
          Some(m)
      }
    }
  }

  private[graft] def loadModel(): Option[LshForest.ForestModel] =
    if (config.indexKind != "lsh") None
    else loadRawModel().map(_.asInstanceOf[LshForest.ForestModel])

  /** Read-only view of the persisted IVF-PQ model (None for LSH engines):
    * maintenance introspection — the staleness probe and specs check
    * `trainedOn` / `coarse.nlist` against the live corpus through this. */
  def ivfPqModel: Option[IvfPq.IvfPqModel] = loadIvfPqModel()

  private[engine] def loadIvfPqModel(): Option[IvfPq.IvfPqModel] =
    if (config.indexKind != "ivfpq") None
    else loadRawModel().map(_.asInstanceOf[IvfPq.IvfPqModel])

  private[engine] def loadSqModel(): Option[graft.ops.Sq.SqModel] =
    if (config.indexKind != "sq8") None
    else loadRawModel().map(_.asInstanceOf[graft.ops.Sq.SqModel])

  private[engine] def loadPqModel(): Option[graft.ops.Pq.PqModel] =
    if (config.indexKind != "pq") None
    else loadRawModel().map(_.asInstanceOf[graft.ops.Pq.PqModel])

  private def saveModel(m: AnyRef): Unit = {
    val out = new ObjectOutputStream(new FileOutputStream(modelFile))
    try out.writeObject(m) finally out.close()
    val f = new File(modelFile)
    modelCache = Some(((f.lastModified(), f.length()), m))
  }

  /** D5 `clear_database` (core.rs:194-198) + I11 `clear` (lsh.rs:506-529,
    * whose tree-clearing loop is buggy in the reference — SURVEY.md §7.5):
    * drop vectors, index, and model; keep metadata. */
  def clear(): Unit = {
    deleteRecursively(new File(vectorsDir))
    deleteRecursively(new File(indexDir))
    forgetSchema(vectorsDir)
    forgetSchema(indexDir)
    new File(modelFile).delete()
    new File(trainedOnFile).delete()
    seqWatermark = -1L
    countCache = -1L
  }

  /** D4 `save_database` (core.rs:183-190): persist metadata. Parquet
    * commits are job-atomic, so unlike the reference there is no fsync
    * choreography — only the tiny JSON changes. */
  def save(): Unit = writeMeta(path, config)

  /** Rewrite a table in place: stage, then swap (atomic at the dir level —
    * the engine's replacement for the reference's per-key LSM deletes).
    * Returns the rows written, observed by the write itself. */
  private def rewrite(dir: String, df: DataFrame): Long = {
    val tmp = dir + ".staging"
    val stats = Observation()
    df.observe(stats, org.apache.spark.sql.functions.count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swap(dir, tmp, Some(df.schema))
    stats.get("rows").asInstanceOf[Long]
  }

  /** Index rewrite in the layout its kind serves from. The LSH bucket
    * table is flat and leaf-sorted: range partitioning on (tree_id,
    * leaf_id) keeps the write parallel with one contiguous leaf range per
    * file, so the layout [[LshForest.writeIndex]] writes survives remove,
    * deduplicate and vacuum (a plain rewrite would lose it); the extra
    * sampling pass is fine for a maintenance op. The sq8/pq codes table is flat with no
    * routing layout. IVF-PQ is the one index still partitioned on disk,
    * by cell_id. */
  private def rewriteIndex(df: DataFrame): Unit = {
    val tmp = indexDir + ".staging"
    config.indexKind match {
      case "ivfpq" =>
        df.repartition(col("cell_id"))
          .write.mode(SaveMode.Overwrite).partitionBy("cell_id").parquet(tmp)
        // the partition column reads back last: infer on the next read
        swap(indexDir, tmp, None)
      case "sq8" | "pq" =>
        df.write.mode(SaveMode.Overwrite).parquet(tmp)
        swap(indexDir, tmp, Some(df.schema))
      case _ =>
        df.repartitionByRange(col("tree_id"), col("leaf_id"))
          .sortWithinPartitions("tree_id", "leaf_id")
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        swap(indexDir, tmp, Some(df.schema))
    }
  }

  /** Swap `tmp` in as `dir`. `written` is the schema of the frame written
    * to `tmp`: it becomes `dir`'s read schema, so the next read infers
    * nothing (the file source makes a supplied schema nullable, as parquet
    * stores it); None leaves the next read to infer it. */
  private def swap(dir: String, tmp: String, written: Option[StructType]): Unit = {
    forgetSchema(dir)
    val old = new File(dir)
    val bak = new File(dir + ".old")
    deleteRecursively(bak)
    if (old.exists() && !old.renameTo(bak))
      throw new java.io.IOException(s"cannot stage out $dir")
    if (!new File(tmp).renameTo(old)) {
      bak.renameTo(old) // restore
      throw new java.io.IOException(s"cannot swap in $tmp")
    }
    deleteRecursively(bak)
    written.foreach(s => readSchemas += dir -> s)
  }

  /** Bucket tables written before the flat layout sit in `tree_id=`
    * directories. Parquet cannot read one directory holding both layouts,
    * and a flat append would create exactly that, so [[ZebraEngine.open]]
    * rewrites such a table flat once, before anything else touches it. */
  private def flattenLegacyIndex(): Unit =
    if (config.indexKind == "lsh" && hasLegacyLshLayout(indexDir))
      rewriteIndex(spark.read.parquet(indexDir).select("id", "tree_id", "leaf_id"))
}

object ZebraEngine {

  val recordSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("document", BinaryType, nullable = true)))

  /** D2 `new` / `new_with_path` (core.rs:110-157). */
  def create(spark: SparkSession, path: String, config: EngineConfig): ZebraEngine = {
    val dir = new File(path)
    if (new File(dir, "zebra.json").exists())
      throw new IllegalStateException(s"engine already exists at $path")
    dir.mkdirs()
    writeMeta(path, config)
    new ZebraEngine(spark, path, config)
  }

  /** D1 `open` (core.rs:92-102). An LSH index still in the old
    * `tree_id=` directory layout is rewritten flat here, once. */
  def open(spark: SparkSession, path: String): ZebraEngine = {
    val engine = new ZebraEngine(spark, path, readMeta(path))
    engine.flattenLegacyIndex()
    engine
  }

  /** D3 `open_or_create` (core.rs:168-176). */
  def openOrCreate(spark: SparkSession, path: String, config: EngineConfig): ZebraEngine =
    if (new File(path, "zebra.json").exists()) open(spark, path)
    else create(spark, path, config)

  /** Destroy an engine directory entirely (tests / tooling). */
  def destroy(path: String): Unit = deleteRecursively(new File(path))

  private def hasData(dir: String): Boolean =
    Option(new File(dir).listFiles()).exists(_.exists(x =>
      x.getName.endsWith(".parquet") || x.getName == "_SUCCESS"))

  /** True when `dir` holds an LSH bucket table in the pre-flat layout. */
  private def hasLegacyLshLayout(dir: String): Boolean =
    Option(new File(dir).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("tree_id=")))

  // Metadata JSON — hand-rolled (flat schema, no dependency).
  private def writeMeta(path: String, c: EngineConfig): Unit = {
    val json =
      s"""{"dim":${c.dim},"metric":"${c.metric}","num_trees":${c.numTrees},""" +
        s""""max_node_size":${c.maxNodeSize},"seed":${c.seed},""" +
        s""""index_kind":"${c.indexKind}"}"""
    Files.write(
      Paths.get(path, "zebra.json"), json.getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def readMeta(path: String): EngineConfig = {
    val f = Paths.get(path, "zebra.json")
    if (!Files.exists(f))
      throw new IllegalStateException(s"no engine at $path (missing zebra.json)")
    val json = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
    def num(k: String): String = {
      val m = s""""$k"\\s*:\\s*(-?[0-9]+)""".r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"bad zebra.json: missing $k"))
    }
    def str(k: String): String = {
      val m = s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"bad zebra.json: missing $k"))
    }
    EngineConfig(
      dim = num("dim").toInt,
      metric = str("metric"),
      numTrees = num("num_trees").toInt,
      maxNodeSize = num("max_node_size").toInt,
      seed = num("seed").toLong,
      // absent in pre-pluggability metadata files: those engines are LSH
      indexKind = """"index_kind"\s*:\s*"([^"]*)"""".r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("lsh"))
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) {
      val fs = f.listFiles()
      if (fs != null) fs.foreach(deleteRecursively)
    }
    f.delete()
    ()
  }
}
