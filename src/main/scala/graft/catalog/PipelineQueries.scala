package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.Tables

/** The end-to-end training-data curation pass — the composite a large-scale
  * LLM pipeline runs over a raw crawl before anything else touches it:
  * exact dedup → quality/length filter → language-ID → per-language corpus
  * accounting. Each stage is an operator that already exists on its own in
  * this catalog (dedup_exact_docs, text_quality_score, text_lang_id); this
  * entry proves they compose into one Catalyst plan with no driver-side
  * glue, and the DuckDB twin hash-checks the whole cascade.
  *
  * Scale shape: dedup groups on a 16-byte md5 (never on text), the filter is
  * a map-side predicate, the stopword table rides along as a broadcast, and
  * every aggregate partial-aggregates map-side. The only shuffles are the
  * three aggregation shuffles (dedup groups, per-doc token counts, final
  * per-language rollup) — all carrying hashed or counted rows, not corpora.
  * The output is integers only (quality pre-quantized per doc), so the
  * cross-engine hash cannot flake on float accumulation order. */
object PipelineQueries {

  private def curatePlan(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nearDedup: Boolean): org.apache.spark.sql.DataFrame =
    curateFrom(s,
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source")),
      if (!nearDedup) None
      else Some(DedupQueries.NgramPairsCache.get(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()),
      recrawlShift = 100000L)

  /** The shared crawl→shard head: simulated re-crawl (every doc fetched
    * twice under distinct ids — the dedup stage must provably halve the
    * corpus, same construction as dedup_exact_docs) → exact dedup (md5 of
    * the text, first-crawled id wins; group members share
    * text/lang/source, so min() reconstructs the row without a second
    * corpus join) → optional near-dup drop-list anti-join (v2's EXACT
    * prefix-filtered pair set) → quality + length gate (the
    * text_quality_score composite: quality ≥ 1/4 ⟺ q_num ≥ 25·text_len,
    * per-doc 1e-4 quantization via integer div — a float quotient here
    * put round() half-boundaries at the mercy of 1-ulp engine divergence,
    * the r3 hash red). ONE definition feeds both doc_pipeline_curate(_v2)
    * and doc_pipeline_pretrain, so the two cascades cannot silently
    * disagree about which docs survive curation. */
  private def dedupAndGate(
      d: org.apache.spark.sql.DataFrame,
      nearDupDrop: Option[org.apache.spark.sql.DataFrame],
      recrawlShift: Long): org.apache.spark.sql.DataFrame = {
    val crawl = d.unionAll(
      d.select((col("doc_id") + recrawlShift).as("doc_id"), col("text"),
        col("lang"), col("source")))
    val deduped = crawl
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id"), min("text").as("text"),
        min("lang").as("lang"), min("source").as("source"))
      .drop("h")
    val kept = nearDupDrop match {
      case None => deduped
      case Some(drop) => deduped.join(drop, Seq("doc_id"), "left_anti")
    }
    val nTokens = size(split(col("text"), " "))
    val alphaLen =
      length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long")
    kept
      .withColumn("word_tokens",
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long"))
      .withColumn("text_len", length(col("text")).cast("long"))
      .withColumn("q_num", alphaLen * least(nTokens, lit(100)).cast("long"))
      .filter(col("q_num") >= lit(25L) * col("text_len") &&
        col("word_tokens") >= 10)
      .withColumn("quality_1e4", expr("(q_num * 100) div text_len"))
  }

  /** The pipeline parameterized by its input frame (the catalog entries
    * bind it to the fixture + cached near-dup pair table). `nearDupDrop`,
    * when present, is the doc_id drop-list the near-dup stage anti-joins.
    * The filtered crawl is checkpointed between the heuristic and LM
    * stages: a production pipeline persists between stages anyway, and
    * without it the dedup+gate subtree recomputes for each consumer. */
  private[graft] def curateFrom(
      s: org.apache.spark.sql.SparkSession,
      d: org.apache.spark.sql.DataFrame,
      nearDupDrop: Option[org.apache.spark.sql.DataFrame],
      recrawlShift: Long): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      val filtered = dedupAndGate(d, nearDupDrop, recrawlShift).localCheckpoint()
      // Language-ID: best stopword-hit ratio (text_lang_id). Docs with no
      // stopword hit at all have no prediction and drop out — a real
      // pipeline routes those to a review queue, not the training set.
      val stopDf = TextQueries.stopwords.toDF("lang_cand", "word")
      val tok = filtered
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      // Per-doc token totals need no explode+shuffle: the count of split
      // tokens is just size(split(...)) — a map-side expression. Only the
      // stopword-hit branch has to materialize tokens as rows.
      val cnt = filtered.select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("n"))
      val hits = tok.join(broadcast(stopDf), Seq("word"))
        .groupBy("doc_id", "lang_cand").agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("lang_cand"))
      val pred = hits.join(cnt, "doc_id")
        .withColumn("score", col("hits").cast("double") / col("n"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("lang_cand").as("pred_lang"))
      // Corpus accounting per (crawl source, predicted language) — the
      // rollup a curation run reports — with lang-ID agreement against the
      // table's ground-truth lang column. Quality is quantized per doc
      // BEFORE summing, and in integers: integer sums are order-independent
      // and the quantization itself is exact.
      filtered.join(pred, "doc_id")
        .groupBy("source", "pred_lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
            .as("n_lang_match"),
          sum(col("word_tokens").cast("long")).as("sum_word_tokens"),
          sum(col("quality_1e4")).as("sum_quality_1e4"))
        .orderBy("source", "pred_lang")
  }

  private def curateSql(prefix: String, extraFilt: String): String = s"""$prefix crawl AS (SELECT doc_id, text, lang, source FROM documents
                     UNION ALL
                     SELECT doc_id + 100000, text, lang, source FROM documents),
      dedup AS (SELECT min(doc_id) AS doc_id, min(text) AS text,
                       min(lang) AS lang, min(source) AS source
                FROM crawl GROUP BY md5(text)),
      feat AS (SELECT doc_id, text, lang, source,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS word_tokens,
                      length(text)::BIGINT AS text_len,
                      len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT
                        * least(len(string_split(text, ' ')), 100)::BIGINT
                        AS q_num
               FROM dedup),
      filt AS (SELECT *, (q_num * 100) // text_len AS quality_1e4
               FROM feat
               WHERE q_num >= 25 * text_len AND word_tokens >= 10$extraFilt),
      stop(lang_cand, word) AS (VALUES ${TextQueries.stopValues}),
      tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
              FROM filt),
      cnt AS (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n
              FROM filt),
      hits AS (SELECT t.doc_id, s.lang_cand, count(*) AS hits
               FROM tok t JOIN stop s ON s.word = t.word
               GROUP BY t.doc_id, s.lang_cand),
      pred AS (SELECT doc_id, lang_cand AS pred_lang
               FROM (SELECT h.doc_id, h.lang_cand,
                            row_number() OVER (
                              PARTITION BY h.doc_id
                              ORDER BY h.hits::DOUBLE / c.n DESC, h.lang_cand)
                              AS rn
                     FROM hits h JOIN cnt c USING (doc_id))
               WHERE rn = 1)
      SELECT f.source, p.pred_lang,
             count(*) AS n_docs,
             sum(CASE WHEN p.pred_lang = f.lang THEN 1 ELSE 0 END)::BIGINT
               AS n_lang_match,
             sum(f.word_tokens)::BIGINT AS sum_word_tokens,
             sum(f.quality_1e4)::BIGINT AS sum_quality_1e4
      FROM filt f JOIN pred p USING (doc_id)
      GROUP BY f.source, p.pred_lang
      ORDER BY f.source, p.pred_lang"""

  val curate = Q(
    "doc_pipeline_curate",
    (s, dir) => curatePlan(s, dir, nearDedup = false),
    Some(curateSql("\n      WITH", "")))

  /** [[curate]] with the near-dup stage a production crawl pass actually
    * runs between exact dedup and the quality gate: the EXACT
    * prefix-filtered n-gram keep-list (dedup_ngram_keep semantics). Five
    * stages — exact dedup, near-dup, quality gate, lang-ID, rollup — one
    * Catalyst plan, one DuckDB hash check. */
  val curateNearDup = Q(
    "doc_pipeline_curate_v2",
    (s, dir) => curatePlan(s, dir, nearDedup = true),
    Some(curateSql(
      DedupQueries.oracleNgramPipeline + ",",
      "\n                 AND doc_id NOT IN (SELECT doc_b FROM vp)")))

  /** The stages BETWEEN curation and the trainer, composed into one plan:
    * exact dedup (planted re-crawl, provably halved) → integer quality
    * gate → temperature mixing over the skewed lang dimension (τ = 0.5,
    * md5-membership, computed on the FILTERED corpus — mixing weights
    * must reflect what survived the gate, not the raw crawl) → train
    * split (md5 bucket, growth-stable) → 2048-token sequence packing →
    * per-source shard report (docs / sequences / tokens). With
    * doc_pipeline_curate(_v2) this closes the crawl→shard path: curate
    * proves the filtering cascade, this proves the SAMPLING + PACKING
    * cascade that consumes it. Every stage is deterministic integer/md5
    * arithmetic, so the DuckDB twin replays all six decisions exactly;
    * scale shape is the stages' own (dedup groups 16-byte digests, mix
    * thresholds broadcast, packing windows partitioned by source). */
  /** The shard cascade parameterized by its input frame
    * (PipelineScaleProbe runs it on synthetic million-doc corpora; the
    * catalog entry binds it to the fixture). Stages as documented on
    * [[pretrainShard]]. */
  private[graft] def shardFrom(
      s: org.apache.spark.sql.SparkSession,
      d: org.apache.spark.sql.DataFrame,
      recrawlShift: Long): org.apache.spark.sql.DataFrame = {
    val filtered = dedupAndGate(d, nearDupDrop = None, recrawlShift)
      .select(col("doc_id"), col("lang"), col("source"),
        col("word_tokens").as("n_tok"))
    val mixed = graft.ops.Curation
      .temperatureSample(filtered, strata = "lang", tau = 0.5)
    val bucket =
      substring(md5(concat(lit("v"), col("doc_id").cast("string"))), 1, 2)
    val train = mixed.filter(bucket < "cc")
    graft.ops.Curation
      .packSequences(train, strata = "source", tokensCol = "n_tok",
        budget = 2048)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("seq_id").as("n_seqs"),
        sum("n_tok").as("sum_tokens"))
      .orderBy("source")
  }

  val pretrainShard = Q(
    "doc_pipeline_pretrain",
    (s, dir) => shardFrom(s,
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source")),
      recrawlShift = 100000L),
    Some("""
      WITH crawl AS (SELECT doc_id, text, lang, source FROM documents
                     UNION ALL
                     SELECT doc_id + 100000, text, lang, source FROM documents),
      dedup AS (SELECT min(doc_id) AS doc_id, min(text) AS text,
                       min(lang) AS lang, min(source) AS source
                FROM crawl GROUP BY md5(text)),
      feat AS (SELECT doc_id, lang, source,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
                        AS word_tokens,
                      length(text)::BIGINT AS text_len,
                      len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT
                        * least(len(string_split(text, ' ')), 100)::BIGINT
                        AS q_num
               FROM dedup),
      filt AS (SELECT doc_id, lang, source, word_tokens AS n_tok
               FROM feat
               WHERE q_num >= 25 * text_len AND word_tokens >= 10),
      c AS (SELECT lang, count(*)::BIGINT AS n_s FROM filt GROUP BY lang),
      m AS (SELECT min(n_s) AS n_min FROM c),
      t AS (SELECT lang,
                   CASE WHEN n_min >= n_s THEN 'g'
                        ELSE lpad(lower(to_hex(
                          floor(sqrt(n_min::DOUBLE / n_s) * 16777216)::BIGINT)),
                          6, '0') END AS thr
            FROM c, m),
      mixed AS (SELECT f.doc_id, f.lang, f.source, f.n_tok
                FROM filt f JOIN t USING (lang)
                WHERE substr(md5('m' || doc_id), 1, 6) < thr),
      train AS (SELECT * FROM mixed
                WHERE substr(md5('v' || doc_id), 1, 2) < 'cc'),
      packed AS (SELECT source, n_tok,
                        ((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                          - n_tok) // 2048)::BIGINT AS seq_id
                 FROM train)
      SELECT source, count(*)::BIGINT AS n_docs,
             count(DISTINCT seq_id)::BIGINT AS n_seqs,
             sum(n_tok)::BIGINT AS sum_tokens
      FROM packed GROUP BY source ORDER BY source"""))

  /** v2 budget: tokens of training text the cascade may emit (fits
    * inside the post-filter train split at both SFs so the selection is
    * live — some docs kept whole-bucket, one boundary bucket cut). */
  private val PretrainV2Budget = 4000L

  /** The MODERN pretraining cascade (doc_pipeline_pretrain + the two
    * model-based stages a FineWeb/CCNet-style pipeline adds): recrawl
    * exact-dedup → heuristic quality gate → bigram-LM perplexity filter
    * (LM trained on the trusted doc_id%4 quarter of the ORIGINAL corpus,
    * scoring the surviving crawl — `QualityModels.lmScore`) →
    * temperature mixing per language → train split → EXACT token-budget
    * selection ranked by LM quality (`Curation.tokenBudgetSelect`,
    * ascending avg micro-nll, no global window) → sequence packing →
    * per-source shard accounting. Every stage's keep-decision is
    * integer/md5-deterministic, and the DuckDB oracle replays all eight
    * stages 1:1, so a drift in ANY stage (a count, a threshold, a
    * boundary doc) flips the hash. Scale shape is each stage's own
    * (documented on its operator); the cascade adds no new shuffle
    * beyond its stages. */
  /** `tauMicro` is the LM keep threshold (fixture-calibrated default).
    * The filtered crawl is checkpointed between the heuristic and LM
    * stages (a production pipeline persists between stages anyway, and
    * without it the dedup+gate subtree recomputes for each of its three
    * consumers), as it has been since the r15 optimization round: the
    * single-plan form re-executed the corpus-sized
    * dedup+gate+LM subtree once per downstream consumer — a 907-operator
    * physical plan whose EXECUTED work measured 9.5–11.2 s of task time
    * and 12.9 MB of shuffle per run at sf0.1; checkpointed it is
    * 1.6–2.3 s / 2.3 MB (≈5× less distributed work — the §1.2 lever that
    * dominates at 100 TB). Local WALL barely moves (the sf0.1 run is
    * driver-bound on ~35 sequential AQE stage jobs either way), so the
    * bench sees a modest win; the task-time/shuffle columns in
    * OPTIMIZATION_r15.md carry the real evidence. Hash gate re-verified
    * unchanged on the checkpointed form. */
  private[graft] def shardV2From(
      d: org.apache.spark.sql.DataFrame,
      recrawlShift: Long,
      budget: Long,
      tauMicro: Long = 34200L): org.apache.spark.sql.DataFrame = {
    val filtered = dedupAndGate(d, nearDupDrop = None, recrawlShift)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("word_tokens").as("n_tok"))
      .localCheckpoint()
    val trusted = d.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
    val lm = graft.ops.QualityModels
      .lmScore(filtered.select("doc_id", "text"), trusted, tauMicro = tauMicro)
      .filter(col("keep"))
      .select(col("doc_id"), col("nll_micro"), col("n_tokens").as("n_lm"))
    // The selection stages each scan their input more than once
    // (temperatureSample: counts + filter; tokenBudgetSelect: histogram +
    // full-bucket semi-join + boundary), so the post-LM frame — text
    // already dropped, a few numeric cols per surviving doc — is
    // checkpointed too; otherwise the corpus-sized LM-scoring join above
    // re-executes once per downstream scan.
    val lmKept = filtered.drop("text").join(lm, "doc_id").localCheckpoint()
    val mixed = graft.ops.Curation
      .temperatureSample(lmKept, strata = "lang", tau = 0.5)
    val bucket =
      substring(md5(concat(lit("v"), col("doc_id").cast("string"))), 1, 2)
    val train = mixed.filter(bucket < "cc")
      .withColumn("avgq", expr("(nll_micro * 1000000) div n_lm"))
    val sel = graft.ops.Curation.tokenBudgetSelect(train, "avgq", "n_tok",
      budget = budget, bucketDiv = 100000000L, bestLow = true)
    graft.ops.Curation
      .packSequences(sel, strata = "source", tokensCol = "n_tok",
        budget = 2048)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("seq_id").as("n_seqs"),
        sum("n_tok").as("sum_tokens"))
      .orderBy("source")
  }

  val pretrainShardV2 = Q(
    "doc_pipeline_pretrain_v2",
    (s, dir) => shardV2From(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source")),
      recrawlShift = 100000L, budget = PretrainV2Budget),
    Some(s"""
      WITH crawl AS (SELECT doc_id, text, lang, source FROM documents
                     UNION ALL
                     SELECT doc_id + 100000, text, lang, source FROM documents),
      dedup AS (SELECT min(doc_id) AS doc_id, min(text) AS text,
                       min(lang) AS lang, min(source) AS source
                FROM crawl GROUP BY md5(text)),
      feat AS (SELECT doc_id, text, lang, source,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
                        AS word_tokens,
                      length(text)::BIGINT AS text_len,
                      len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT
                        * least(len(string_split(text, ' ')), 100)::BIGINT
                        AS q_num
               FROM dedup),
      filt AS (SELECT doc_id, text, lang, source, word_tokens AS n_tok
               FROM feat
               WHERE q_num >= 25 * text_len AND word_tokens >= 10),
      ttok AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id % 4 = 0),
      tbig AS MATERIALIZED (
        SELECT CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx, w[i] AS word
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM ttok)),
      lc2 AS (SELECT ctx, word, count(*) AS c2 FROM tbig GROUP BY ctx, word),
      lc1 AS (SELECT ctx, count(*) AS c1 FROM tbig GROUP BY ctx),
      lv AS (SELECT count(DISTINCT word) + 1 AS v FROM tbig),
      stok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM filt),
      sbig AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx, w[i] AS word
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM stok)),
      sc AS (SELECT b.doc_id,
                    CAST(round(-ln((coalesce(lc2.c2, 0) + 1)::DOUBLE
                                   / (coalesce(lc1.c1, 0) + lv.v)) * 10000)
                         AS BIGINT) AS q
             FROM sbig b
             LEFT JOIN lc2 ON lc2.ctx = b.ctx AND lc2.word = b.word
             LEFT JOIN lc1 ON lc1.ctx = b.ctx, lv),
      lm AS (SELECT doc_id, count(*)::BIGINT AS n_lm, sum(q)::BIGINT AS nll
             FROM sc GROUP BY doc_id),
      lmkept AS (SELECT f.doc_id, f.lang, f.source, f.n_tok, l.nll, l.n_lm
                 FROM filt f JOIN lm l USING (doc_id)
                 WHERE l.nll <= l.n_lm * 34200),
      c AS (SELECT lang, count(*)::BIGINT AS n_s FROM lmkept GROUP BY lang),
      m AS (SELECT min(n_s) AS n_min FROM c),
      t AS (SELECT lang,
                   CASE WHEN n_min >= n_s THEN 'g'
                        ELSE lpad(lower(to_hex(
                          floor(sqrt(n_min::DOUBLE / n_s) * 16777216)::BIGINT)),
                          6, '0') END AS thr
            FROM c, m),
      mixed AS (SELECT k.doc_id, k.lang, k.source, k.n_tok, k.nll, k.n_lm
                FROM lmkept k JOIN t USING (lang)
                WHERE substr(md5('m' || doc_id), 1, 6) < thr),
      train AS (SELECT *, (nll * 1000000) // n_lm AS avgq FROM mixed
                WHERE substr(md5('v' || doc_id), 1, 2) < 'cc'),
      qbd AS (SELECT *, avgq // 100000000 AS qb FROM train),
      hist AS (SELECT qb, sum(n_tok)::BIGINT AS bt FROM qbd GROUP BY qb),
      cum AS (SELECT qb, bt,
                     coalesce(sum(bt) OVER (ORDER BY qb ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                       AS cum_pre
              FROM hist),
      kept_full AS (
        SELECT s.doc_id, s.source, s.n_tok
        FROM qbd s JOIN cum c2 ON c2.qb = s.qb
        WHERE c2.cum_pre + c2.bt <= $PretrainV2Budget),
      kept_boundary AS (
        SELECT doc_id, source, n_tok FROM (
          SELECT s.doc_id, s.source, s.n_tok,
                 c2.cum_pre + sum(s.n_tok) OVER (ORDER BY s.avgq ASC, s.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM qbd s JOIN cum c2 ON c2.qb = s.qb
          WHERE c2.cum_pre < $PretrainV2Budget
            AND c2.cum_pre + c2.bt > $PretrainV2Budget)
        WHERE run <= $PretrainV2Budget),
      sel AS (SELECT * FROM kept_full UNION ALL SELECT * FROM kept_boundary),
      packed AS (SELECT source, n_tok,
                        ((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                          - n_tok) // 2048)::BIGINT AS seq_id
                 FROM sel)
      SELECT source, count(*)::BIGINT AS n_docs,
             count(DISTINCT seq_id)::BIGINT AS n_seqs,
             sum(n_tok)::BIGINT AS sum_tokens
      FROM packed GROUP BY source ORDER BY source"""))

  /** CCNet-style per-language perplexity bucketing (Wenzek et al. 2020)
    * — the curation move the fixed-threshold LM filter (`text_lm_score`)
    * can't make: a single tau miscalibrates across languages, so CCNet
    * buckets each LANGUAGE's perplexity distribution into its own
    * head/middle/tail terciles and keeps head+middle. Composition:
    * stopword-ratio lang-ID (text_lang_id's plan) → add-one bigram-LM
    * micro-nat NLL against the trusted doc_id % 4 slice (text_lm_score's
    * plan) → integer per-token perplexity `ppl_q = nll_micro div
    * n_tokens` → per-pred_lang type-7 terciles (the cross-engine-exact
    * percentile pattern of doc_quality_percentile_filter — integer
    * inputs, thresholds interpolate identically in DuckDB's
    * quantile_cont) → per-doc bucket assignment. Output is the full
    * per-doc assignment (doc_id, pred_lang, ppl_q, bucket), hash-gated.
    * 100 TB shape: lang-ID and LM both end in doc-sized rollups (no new
    * shuffles beyond their proven plans), the tercile table is
    * languages-sized and BROADCASTS, bucket assignment is map-side; the
    * only windows are per-doc-partitioned (lang-ID top-1). */
  /** The corpus-sized `scored` frame (lang-ID ⋈ LM cascade) feeds TWO
    * consumers — the tercile aggregation and the final bucket-assignment
    * join — and is deliberately NOT checkpointed. Measured at r15: the
    * checkpointed form is not faster here — the initial plan shows the
    * scored subtree twice (58 Exchanges) but the EXECUTED work is
    * 0.3–0.6 s task time / 0.2 MB shuffle, because the two consumers
    * read the frame through IDENTICAL subtrees and AQE reuses the
    * materialized exchanges at runtime; an eager checkpoint only adds
    * a barrier job. Contrast shardV2From, whose consumers' subtrees
    * differ (different projections/filters) and defeat that reuse. */
  private[graft] def ccnetFrom(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pred = TextQueries.langIdPred(docs).select("doc_id", "pred_lang")
    val lm = graft.ops.QualityModels
      .lmScore(docs, docs.filter(col("doc_id") % 4 === 0), tauMicro = 0L)
      .select(col("doc_id"), expr("nll_micro div n_tokens").as("ppl_q"))
    val scored = lm.join(pred, "doc_id")
    val thr = scored.groupBy("pred_lang").agg(
      expr("percentile(ppl_q, 0.3333333333333333d)").as("t1"),
      expr("percentile(ppl_q, 0.6666666666666666d)").as("t2"))
    scored.join(broadcast(thr), "pred_lang")
      .select(col("doc_id"), col("pred_lang"), col("ppl_q"),
        when(col("ppl_q") <= col("t1"), "head")
          .when(col("ppl_q") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  val ccnet = Q(
    "doc_pipeline_ccnet",
    (s, dir) =>
      ccnetFrom(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
    Some(s"""
      WITH tok0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                    FROM documents),
      big AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx,
               w[i] AS word
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM tok0)),
      train AS MATERIALIZED (
        SELECT ctx, word FROM big WHERE doc_id % 4 = 0),
      c2 AS (SELECT ctx, word, count(*) AS c2 FROM train GROUP BY ctx, word),
      c1 AS (SELECT ctx, count(*) AS c1 FROM train GROUP BY ctx),
      v AS (SELECT count(DISTINCT word) + 1 AS v FROM train),
      sc AS (SELECT b.doc_id,
                    CAST(round(-ln((coalesce(c2.c2, 0) + 1)::DOUBLE
                                   / (coalesce(c1.c1, 0) + v.v)) * 10000)
                         AS BIGINT) AS q
             FROM big b
             LEFT JOIN c2 ON c2.ctx = b.ctx AND c2.word = b.word
             LEFT JOIN c1 ON c1.ctx = b.ctx, v),
      lm AS (SELECT doc_id, sum(q)::BIGINT // count(*)::BIGINT AS ppl_q
             FROM sc GROUP BY doc_id),
      stop(lang_cand, word) AS (VALUES ${TextQueries.stopValues}),
      tokw AS (SELECT doc_id, unnest(w) AS word FROM tok0),
      cnt AS (SELECT doc_id, len(w)::BIGINT AS n FROM tok0),
      hits AS (SELECT t.doc_id, s.lang_cand, count(*) AS hits
               FROM tokw t JOIN stop s ON s.word = t.word
               GROUP BY t.doc_id, s.lang_cand),
      pred AS (SELECT doc_id, lang_cand AS pred_lang
               FROM (SELECT h.doc_id, h.lang_cand,
                            row_number() OVER (
                              PARTITION BY h.doc_id
                              ORDER BY h.hits::DOUBLE / c.n DESC, h.lang_cand)
                              AS rn
                     FROM hits h JOIN cnt c USING (doc_id))
               WHERE rn = 1),
      scored AS (SELECT l.doc_id, p.pred_lang, l.ppl_q
                 FROM lm l JOIN pred p USING (doc_id)),
      thr AS (SELECT pred_lang,
                     quantile_cont(ppl_q, 0.3333333333333333) AS t1,
                     quantile_cont(ppl_q, 0.6666666666666666) AS t2
              FROM scored GROUP BY pred_lang)
      SELECT s.doc_id, s.pred_lang, s.ppl_q,
             CASE WHEN s.ppl_q <= t.t1 THEN 'head'
                  WHEN s.ppl_q <= t.t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scored s JOIN thr t USING (pred_lang)
      ORDER BY s.doc_id"""))

  def qs: Seq[Q] = Seq(curate, curateNearDup, pretrainShard, pretrainShardV2,
    ccnet)
}
