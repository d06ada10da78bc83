package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Library surface for lexical and hybrid retrieval: BM25 scoring over an
  * inverted-index shape and reciprocal-rank fusion — the text leg that
  * complements the engine's vector ANN search (reference query surface:
  * src/database/core.rs:267-313; zebra itself has no lexical search — this
  * is part of the training-data-pipeline extension surface).
  *
  * Determinism contract (shared with the catalog's DuckDB twins): scores
  * are integers. BM25's tf side is exactly rational — with k1 = 1.2,
  * b = 0.75 and avgdl = S/N it multiplies out to
  * 22·tf·S / (10·tf·S + 3·S + 9·dl·N) — and the idf is the rational
  * surrogate (N+1)/(df+1), monotone in df like Robertson's
  * ln((N−df+0.5)/(df+0.5)) but transcendental-free, so no libm call can
  * diverge across engines. Per-(doc, term) scores are truncated to 1e-4
  * integers BEFORE the per-doc sum; integer sums are accumulation-order
  * independent.
  *
  * Scale shape: the query-term filter sits below the tf aggregation (only
  * matching postings shuffle), df and corpus stats broadcast, and rankings
  * come from the bounded TopKAgg — map-side partial top-k, never a global
  * ranking window over the scored corpus.
  */
object Retrieval {

  /** Per-doc integer BM25 scores (column `bm25_1e4`) for `terms` over
    * `docs(docId, textCol)`. k1 = 1.2, b = 0.75 (fixed so the arithmetic
    * stays in the exactly-rational form above). */
  def bm25Scores(
      docs: DataFrame, terms: Seq[String],
      docId: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    val dl = docs.select(col(docId),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = docs
      .select(col(docId), explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word").isInCollection(terms))
      .groupBy(docId, "word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), "word").join(dl, docId)
      .crossJoin(broadcast(stats))
      .select(col(docId),
        floor((col("n_docs") + 1).cast("double") / (col("df") + 1)
          * (lit(22.0) * col("tf") * col("sum_dl"))
          / (lit(10.0) * col("tf") * col("sum_dl") + lit(3.0) * col("sum_dl")
            + lit(9.0) * col("dl") * col("n_docs"))
          * lit(1e4)).cast("long").as("t4"))
      .groupBy(docId).agg(sum("t4").as("bm25_1e4"))
  }

  /** Per-query BM25 scores for a BATCH of queries: `qterms` is
    * (queryId, word) with per-query DISTINCT terms. Document frequency and
    * corpus stats are query-independent, so they are computed once and
    * broadcast; attaching queryId is one more broadcast join against the
    * (bounded, queries × terms-per-query) term table — the postings
    * shuffle is shared across the whole batch, not repeated per query.
    * With a single query this reduces term-for-term to [[bm25Scores]]. */
  def bm25ScoresBatch(
      docs: DataFrame, qterms: DataFrame,
      docId: String = "doc_id", textCol: String = "text",
      queryId: String = "query_id"): DataFrame = {
    val dl = docs.select(col(docId),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val anyTerm = qterms.select("word").distinct()
    val tf = docs
      .select(col(docId), explode(split(lower(col(textCol)), " ")).as("word"))
      .join(broadcast(anyTerm), "word")
      .groupBy(docId, "word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), "word")
      .join(broadcast(qterms), "word")
      .join(dl, docId)
      .crossJoin(broadcast(stats))
      .select(col(queryId), col(docId),
        floor((col("n_docs") + 1).cast("double") / (col("df") + 1)
          * (lit(22.0) * col("tf") * col("sum_dl"))
          / (lit(10.0) * col("tf") * col("sum_dl") + lit(3.0) * col("sum_dl")
            + lit(9.0) * col("dl") * col("n_docs"))
          * lit(1e4)).cast("long").as("t4"))
      .groupBy(queryId, docId).agg(sum("t4").as("bm25_1e4"))
  }

  /** Bounded top-k of (score desc, id asc) via TopKAgg: the integer score is
    * negated into the aggregator's ascending (dist, id) order (integers of
    * this size are exact doubles, so no rounding enters the key). `I` is
    * the doc-id type (Long for the catalog tables, String for engine ids).
    * Returns (docId, scoreName, rk) with rk 1-based. `groupCols` ranks
    * within each group instead of globally (the batch form — map-side
    * partial top-k per group, never a ranking window over the scored
    * corpus). */
  def topKByScore[I: scala.reflect.runtime.universe.TypeTag: Ordering](
      scored: DataFrame, k: Int, scoreName: String,
      docId: String = "doc_id", groupCols: Seq[String] = Nil): DataFrame =
    scored
      .groupBy(groupCols.map(col): _*)
      .agg(TopK.topk[I](k, -col(scoreName).cast("double"), col(docId))
        .as("t"))
      .select(groupCols.map(col) :+ posexplode(col("t")): _*)
      .select(groupCols.map(col) ++ Seq(col("col.id").as(docId),
        (-col("col.dist")).cast("long").as(scoreName),
        (col("pos") + 1).cast("long").as("rk")): _*)

  /** BM25 top-k search: `bm25Scores` ∘ `topKByScore`. */
  def bm25TopK[I: scala.reflect.runtime.universe.TypeTag: Ordering](
      docs: DataFrame, terms: Seq[String], k: Int,
      docId: String = "doc_id", textCol: String = "text"): DataFrame =
    topKByScore[I](bm25Scores(docs, terms, docId, textCol), k, "bm25_1e4", docId)

  /** BM25 top-k per query over a batch: [[bm25ScoresBatch]] ∘ grouped
    * [[topKByScore]]. Returns (queryId, docId, bm25_1e4, rk). */
  def bm25TopKBatch[I: scala.reflect.runtime.universe.TypeTag: Ordering](
      docs: DataFrame, qterms: DataFrame, k: Int,
      docId: String = "doc_id", textCol: String = "text",
      queryId: String = "query_id"): DataFrame =
    topKByScore[I](bm25ScoresBatch(docs, qterms, docId, textCol, queryId),
      k, "bm25_1e4", docId, Seq(queryId))

  /** A batch's postings: (doc_id, word, tf) rows. Empty-token postings
    * are retained deliberately: dl must equal the raw split length for
    * score parity with [[bm25Scores]]. */
  private def postingsOf(
      batch: DataFrame, docId: String, textCol: String): DataFrame =
    batch
      .select(col(docId), explode(split(lower(col(textCol)), " ")).as("word"))
      .groupBy(docId, "word").agg(count(lit(1)).as("tf"))

  /** MAINTAINED inverted index — the production form of the BM25 surface:
    * a batch rebuild re-tokenizes the whole corpus per query session,
    * while a crawl appends documents continuously. The store is an append
    * [[graft.streaming.EpochStore]] of postings epochs: per epoch the work
    * is tokenizing THE BATCH — nothing existing is rewritten (contrast the
    * rollup store's merge-rewrite; postings need no merge because every
    * BM25 statistic is additive: dl = Σ tf per doc, N/S = doc count /
    * token count, df = per-word doc count, all derivable from the union of
    * epochs). Replayed epochs no-op. */
  def applyPostingsBatch(
      batch: DataFrame, batchId: Long, storePath: String,
      docId: String = "doc_id", textCol: String = "text"): Unit =
    graft.streaming.EpochStore.append(batch.sparkSession, storePath, batchId)(
      postingsOf(batch, docId, textCol))

  /** The maintained postings (union of the live epochs), if any. */
  def currentPostings(
      s: org.apache.spark.sql.SparkSession,
      storePath: String): Option[DataFrame] =
    graft.streaming.EpochStore.read(s, storePath)

  /** COMPACT the maintained postings store — the LSM step: merge every
    * live epoch into one, so serving reads one partition set instead of
    * one per ingest batch. Returns true when a compaction happened. */
  def compactPostings(
      s: org.apache.spark.sql.SparkSession, storePath: String): Boolean =
    graft.streaming.EpochStore.compact(
      s, graft.streaming.EpochStore.Append(storePath))

  /** Streaming index maintenance: each micro-batch of documents appends
    * its postings epoch. */
  def maintainPostings(
      stream: DataFrame, storePath: String, checkpoint: String,
      docId: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EpochStore.maintain(stream, checkpoint,
        Seq(graft.streaming.EpochStore.Append(storePath))) { (batch, id) =>
      applyPostingsBatch(batch, id, storePath, docId, textCol)
    }

  /** BM25 top-k SERVED FROM the maintained postings — must equal
    * [[bm25TopK]] over the same corpus (the catalog gate's claim): dl,
    * corpus stats and df all derive from the store, and the scoring
    * arithmetic is shared rational-integer form. */
  def bm25TopKFromPostings[I: scala.reflect.runtime.universe.TypeTag: Ordering](
      postings: DataFrame, terms: Seq[String], k: Int,
      docId: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromPostings needs at least one term")
    val dl = postings.groupBy(docId).agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = postings.filter(col("word").isInCollection(terms))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df_), "word").join(dl, docId)
      .crossJoin(broadcast(stats))
      .select(col(docId),
        floor((col("n_docs") + 1).cast("double") / (col("df") + 1)
          * (lit(22.0) * col("tf") * col("sum_dl"))
          / (lit(10.0) * col("tf") * col("sum_dl") + lit(3.0) * col("sum_dl")
            + lit(9.0) * col("dl") * col("n_docs"))
          * lit(1e4)).cast("long").as("t4"))
      .groupBy(docId).agg(sum("t4").as("bm25_1e4"))
    topKByScore[I](scored, k, "bm25_1e4", docId)
  }

  /** Reciprocal-rank fusion of retrieval legs. Each leg is
    * (name, DataFrame(docId, rankCol)) with ranks 1-based over a BOUNDED
    * retrieved set (top-k per leg — fuse what was retrieved, as a
    * production hybrid retriever does). Output: one row per doc in the
    * union, a 0-defaulted rank column `r_<name>` per leg, and
    * `rrf_1e6 = Σ 1e6 div (rrfK + rank)` over present legs — integer-only.
    * rrfK = 60 is the standard fusion constant. `groupCols` fuses within
    * each group (the batch form: legs carry a queryId column and the
    * full-outer join keys on (queryId, docId)). */
  def rrfFuse(
      legs: Seq[(String, DataFrame)], rrfK: Int = 60,
      docId: String = "doc_id", groupCols: Seq[String] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    val keys = groupCols :+ docId
    val renamed = legs.map { case (name, df) =>
      name -> df.select(keys.map(col) :+ col("rk").as(s"r_$name"): _*)
    }
    val joined = renamed.map(_._2).reduce(
      (a, b) => a.join(b, keys, "full_outer"))
    val contrib: Column = renamed.map { case (name, _) =>
      when(col(s"r_$name").isNull, lit(0L))
        .otherwise(expr(s"1000000 div ($rrfK + r_$name)"))
    }.reduce(_ + _)
    val zeroed = renamed.foldLeft(joined.withColumn("rrf_1e6", contrib)) {
      case (df, (name, _)) =>
        df.withColumn(s"r_$name", coalesce(col(s"r_$name"), lit(0L)))
    }
    zeroed
  }
}
