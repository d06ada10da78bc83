package graft.catalog

import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.Tables
import graft.ops.Curation

/** Catalog twins for the curation library surface (`ops/Curation.scala`) —
  * the operators a large-scale training-data pipeline runs beyond dedup and
  * lang-ID: repetition-based quality filters (the Gopher rules), benchmark
  * decontamination, PII scrubbing, deterministic quota sampling, and
  * sequence packing. Every entry is integer-exact (counts,
  * integer-quantized ratios, md5 digests) so the DuckDB hash gate cannot
  * flake on float accumulation, and every shape is the one that survives
  * 100 TB: zero-shuffle HOF passes or explode → hash-aggregate (partial
  * map-side), broadcast joins against tiny derived sets, and windows only
  * where partitioned by a grouping key or over provably bounded inputs.
  */
object CurationQueries {

  /** Gopher-style repetition stats per document. The op computes each
    * doc's distinct/max-multiplicity with one run-length `aggregate` HOF
    * over its sorted gram array — entirely map-side (the explode → two
    * groupBys → join formulation spent 2.9 s at sf0.1 as the bench's
    * slowest query; this form is scan → project → orderBy). The DuckDB
    * oracle keeps the explode formulation — same result, independent
    * derivation. */
  val repetition = Q(
    "text_repetition_stats",
    (s, dir) =>
      Curation.repetitionStats(Tables.documents(s, dir)).orderBy("doc_id"),
    Some("""
      WITH g2 AS (SELECT doc_id, sum(c)::BIGINT AS n2, count(*)::BIGINT AS d2,
                         max(c)::BIGINT AS m2
                  FROM (SELECT doc_id, g, count(*) AS c
                        FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
                              FROM (SELECT doc_id,
                                           string_split(lower(text), ' ') AS w
                                    FROM documents),
                                   unnest(range(1, len(w))) t(i))
                        GROUP BY doc_id, g)
                  GROUP BY doc_id),
      g1 AS (SELECT doc_id, sum(c)::BIGINT AS n1, max(c)::BIGINT AS m1
             FROM (SELECT doc_id, t, count(*) AS c
                   FROM (SELECT doc_id,
                                unnest(string_split(lower(text), ' ')) AS t
                         FROM documents)
                   GROUP BY doc_id, t)
             GROUP BY doc_id)
      SELECT g2.doc_id, g2.n2,
             (g2.n2 - g2.d2) * 10000 // g2.n2 AS dup2_frac_1e4,
             g2.m2 * 10000 // g2.n2 AS top2_frac_1e4,
             g1.m1 * 10000 // g1.n1 AS top1_frac_1e4
      FROM g2 JOIN g1 USING (doc_id) ORDER BY doc_id"""))

  /** Benchmark decontamination: flag every corpus document sharing a word
    * 5-gram with the "benchmark" subset (doc_id ≡ 0 mod 97 — a stand-in
    * for an eval set). GPT-3-style decontamination scaled to the fixture's
    * short docs; see `Curation.decontaminate` for the broadcast shape. */
  val decontaminate = Q(
    "text_decontaminate",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(
        corpus = docs.filter(col("doc_id") % 97 =!= 0),
        benchmark = docs.filter(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },
    Some("""
      WITH g5 AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
                  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                        FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
                       unnest(range(1, len(w) - 3)) t(i)),
      bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0)
      SELECT doc_id, count(DISTINCT g)::BIGINT AS n_shared
      FROM g5 JOIN bench USING (g)
      WHERE doc_id % 97 <> 0
      GROUP BY doc_id ORDER BY doc_id"""))

  /** PII scrubbing: plant deterministic emails/phones into the crawl text,
    * scrub via `Curation.piiScrub`, gate the redacted text through md5.
    * Pure map-side work — no shuffle before the final order. */
  val piiScrub = Q(
    "text_pii_scrub",
    (s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 3,
          concat(lit(" call 555-"),
            (lit(1000) + col("doc_id") % 9000).cast("string")))
          .otherwise(lit("")))
      val crawl = Tables.documents(s, dir)
        .select(col("doc_id"), planted.as("text"))
      Curation.piiScrub(crawl)
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("redacted").cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    Some("""
      WITH crawl AS (SELECT doc_id,
                            text
                            || CASE WHEN doc_id % 7 = 0
                                    THEN ' contact user' || doc_id || '@example.com now'
                                    ELSE '' END
                            || CASE WHEN doc_id % 11 = 3
                                    THEN ' call 555-' || (1000 + doc_id % 9000)
                                    ELSE '' END AS crawl
                     FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(crawl, '[a-z0-9]+@[a-z0-9]+\.[a-z]+'))::BIGINT
               AS n_emails,
             len(regexp_extract_all(crawl, '555-[0-9]{4}'))::BIGINT AS n_phones,
             md5(regexp_replace(regexp_replace(crawl,
                   '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
                 '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      FROM crawl ORDER BY doc_id"""))

  /** Deterministic quota sampling: at most 30 docs per source, chosen by
    * md5 order (`Curation.quotaSample`) — the reproducible stratified
    * downsample of a per-domain cap pass. */
  val quotaSample = Q(
    "sample_quota_per_source",
    (s, dir) =>
      Curation.quotaSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        strata = "source", cap = 30)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy("source", "rk"),
    Some("""
      SELECT doc_id, source, rk
      FROM (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5('q' || doc_id), doc_id)::BIGINT
                     AS rk
            FROM documents)
      WHERE rk <= 30 ORDER BY source, rk"""))

  /** Sequence packing: the concat-and-chunk pass that turns curated docs
    * into fixed-budget training sequences (2048 "tokens" here), rolled up
    * per (source, sequence). Both the packing window and the rollup key on
    * source, so the plan reuses a single hash partitioning and no global
    * ordering exists anywhere. */
  val packSequences = Q(
    "pack_sequences",
    (s, dir) => {
      val dl = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_tok"))
      Curation.packSequences(dl, strata = "source", tokensCol = "n_tok",
        budget = 2048)
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
        .orderBy("source", "seq_id")
    },
    Some("""
      WITH dl AS (SELECT doc_id, source,
                         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
                           AS n_tok
                  FROM documents),
      packed AS (SELECT source, n_tok,
                        ((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                          - n_tok) // 2048)::BIGINT AS seq_id
                 FROM dl)
      SELECT source, seq_id, count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS sum_tokens
      FROM packed GROUP BY source, seq_id ORDER BY source, seq_id"""))

  /** First-fit-decreasing packing ([[graft.ops.BinPack]]) — the
    * boundary-respecting twin of `pack_sequences`: docs are packed WHOLE
    * into 512-token bins by the exact FFD greedy inside md5-salted
    * groups, and the recursive-CTE oracle replays the identical traversal
    * one placement per step, so the hash pins every doc's bin. Oversized
    * docs are the chunking path's job and are excluded by contract. */
  val packFfd = Q(
    "pack_sequences_ffd",
    (s, dir) => {
      val dl = Tables.documents(s, dir).select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_tok"))
      graft.ops.BinPack.packFirstFitDecreasing(dl, capacity = 512L)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE dl AS MATERIALIZED (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
                 AS n_tok
        FROM documents),
      el AS MATERIALIZED (SELECT doc_id, n_tok FROM dl WHERE n_tok <= 512),
      pars AS MATERIALIZED (
        SELECT greatest(1, (count(*) + 1023) // 1024)::BIGINT AS g FROM el),
      hashed AS MATERIALIZED (
        SELECT doc_id, n_tok, md5('b' || doc_id) AS h FROM el),
      grouped AS MATERIALIZED (
        SELECT doc_id, n_tok,
               ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1))::BIGINT
                 % (SELECT g FROM pars) AS grp
        FROM hashed),
      ordd AS MATERIALIZED (
        SELECT grp, doc_id, n_tok,
               row_number() OVER (PARTITION BY grp
                 ORDER BY n_tok DESC, doc_id)::BIGINT AS rn
        FROM grouped),
      ${graft.ops.BinPack.oracleSql(512L)}
      SELECT grp, doc_id, n_tok, bin FROM steps WHERE rn >= 1
      ORDER BY doc_id"""))

  /** Deterministic train/val/test split: each doc's bucket is the first
    * two hex chars of md5('v' || doc_id) — a pure map pass, reproducible
    * across engines and across reruns at any scale, and stable under
    * corpus growth (a doc's split never changes when others are added —
    * the property random-number splits lack). String-range thresholds
    * keep both engines in hex-lexicographic comparison: [00,cc) ≈ 79.7%
    * train, [cc,e6) ≈ 10.2% val, [e6,ff] ≈ 10.2% test. */
  val splitTrainVal = Q(
    "split_train_val",
    (s, dir) => {
      val bucket =
        substring(md5(concat(lit("v"), col("doc_id").cast("string"))), 1, 2)
      Tables.documents(s, dir).select(
        col("doc_id"),
        when(bucket < "cc", "train").when(bucket < "e6", "val")
          .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN substr(md5('v' || doc_id), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5('v' || doc_id), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  /** Sliding-window chunking ([[graft.ops.Curation.chunkDocs]]) at
    * 32-token windows, stride 24 (8-token overlap) — sized so the fixture's
    * ~54-token docs produce multi-chunk outputs. The md5 digest gates the
    * chunk CONTENT, not just its shape. */
  val chunkDocuments = Q(
    "chunk_documents",
    (s, dir) =>
      graft.ops.Curation.chunkDocs(Tables.documents(s, dir),
        chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id"),
    Some("""
      WITH tk AS (SELECT doc_id,
                         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                  FROM documents),
           sized AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM tk),
           counted AS (SELECT doc_id, toks,
                              CASE WHEN n <= 32 THEN 1
                                   ELSE 1 + ((n - 32 + 23) // 24) END
                                AS n_chunks
                       FROM sized)
      , chunks AS (SELECT doc_id, toks,
                          unnest(range(0, n_chunks))::BIGINT AS chunk_id
                   FROM counted)
      SELECT doc_id, chunk_id, chunk_id * 24 AS start_tok,
             len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)])::BIGINT
               AS n_tok,
             md5(array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)],
                                 ' ')) AS chunk_md5
      FROM chunks
      ORDER BY doc_id, chunk_id"""))

  /** Temperature mixing at τ = 0.5 ([[graft.ops.Curation.temperatureSample]]):
    * strata = lang (the fixture's skewed dimension: en is ~3.4x fr, so the
    * mix genuinely downsamples);
    * every kept (doc_id, lang) is enumerated, so the oracle gates exact
    * MEMBERSHIP, not just per-source counts. */
  val temperatureMix = Q(
    "sample_temperature_mix",
    (s, dir) =>
      graft.ops.Curation.temperatureSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        strata = "lang", tau = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
    Some("""
      WITH c AS (SELECT lang, count(*)::BIGINT AS n_s
                 FROM documents GROUP BY lang),
           m AS (SELECT min(n_s) AS n_min FROM c),
           t AS (SELECT lang,
                        CASE WHEN n_min >= n_s THEN 'g'
                             ELSE lpad(lower(to_hex(
                               floor(sqrt(n_min::DOUBLE / n_s) * 16777216)::BIGINT)),
                               6, '0') END AS thr
                 FROM c, m)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN t USING (lang)
      WHERE substr(md5('m' || doc_id), 1, 6) < thr
      ORDER BY doc_id"""))

  /** Adaptive quality cutoff: drop each source's bottom decile by quality
    * score — the data-driven variant of a fixed quality threshold (a
    * fixed cutoff miscalibrates across sources; percentile-per-source
    * self-calibrates). The score is floor-quantized to an integer so the
    * type-7 percentile interpolates integers (the proven cross-engine
    * pattern, profile_token_quantiles) and the >= comparison is int vs
    * that deterministic double. Thresholds are a tiny broadcast; the
    * corpus is filtered map-side. */
  val qualityPercentileFilter = Q(
    "doc_quality_percentile_filter",
    (s, dir) => {
      val nChars = length(col("text"))
      val nTokens = size(split(col("text"), " "))
      val alphaChars = length(regexp_replace(lower(col("text")), "[^a-z]", ""))
      val q = floor(alphaChars.cast("double") / nChars
        * least(nTokens, lit(100)).cast("double") / 100.0 * 1e6).cast("long")
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), q.as("q_1e6"))
      val thr = scored.groupBy("source")
        .agg(expr("percentile(q_1e6, 0.1)").as("thr"))
      scored.join(broadcast(thr), "source")
        .filter(col("q_1e6") >= col("thr"))
        .select("doc_id", "source", "q_1e6")
        .orderBy("doc_id")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, source,
               CAST(floor(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                    / length(text)
                    * least(len(string_split(text, ' ')), 100)::DOUBLE / 100.0
                    * 1000000) AS BIGINT) AS q_1e6
        FROM documents),
      thr AS (SELECT source, quantile_cont(q_1e6, 0.1) AS thr
              FROM scored GROUP BY source)
      SELECT doc_id, s.source, q_1e6
      FROM scored s JOIN thr t ON t.source = s.source
      WHERE q_1e6 >= t.thr
      ORDER BY doc_id"""))

  /** EXACT token-budget selection — "fill a 15k-token training budget
    * with the best-quality docs": the greedy optimum (keep docs in
    * descending quality order while the running token sum stays within
    * budget) computed WITHOUT a global ranking window. Docs histogram
    * into ≤1001 coarse quality buckets (q_1e6 div 1000); an
    * exclusive-cumulative over the BUCKET table (bounded — the only
    * unpartitioned window is 1001 rows) finds the buckets that fit
    * whole, and only the single boundary bucket — 1/1000 of the corpus
    * in expectation — pays a per-doc running sum, ordered (q desc,
    * doc_id) for determinism. At 100 TB the full buckets are a semi-join
    * keep, the boundary window is corpus/1000-sized, and nothing
    * corpus-sized is ever globally ordered. Kept set is exactly
    * under-budget (inclusive running sum ≤ B, no partial docs). */
  val tokenBudgetSample = Q(
    "sample_token_budget",
    (s, dir) => {
      val B = 15000L
      val nChars = length(col("text"))
      val nTokens = size(split(col("text"), " "))
      val alphaChars = length(regexp_replace(lower(col("text")), "[^a-z]", ""))
      val q = floor(alphaChars.cast("double") / nChars
        * least(nTokens, lit(100)).cast("double") / 100.0 * 1e6).cast("long")
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), q.as("q_1e6"), nTokens.cast("long").as("n_tokens"))
      Curation.tokenBudgetSelect(scored, "q_1e6", "n_tokens",
        budget = B, bucketDiv = 1000L, bestLow = false)
        .select("doc_id", "q_1e6", "n_tokens")
        .orderBy("doc_id")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id,
               CAST(floor(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                    / length(text)
                    * least(len(string_split(text, ' ')), 100)::DOUBLE / 100.0
                    * 1000000) AS BIGINT) AS q_1e6,
               len(string_split(text, ' '))::BIGINT AS n_tokens,
               CAST(floor(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                    / length(text)
                    * least(len(string_split(text, ' ')), 100)::DOUBLE / 100.0
                    * 1000000) AS BIGINT) // 1000 AS qb
        FROM documents),
      hist AS (SELECT qb, sum(n_tokens)::BIGINT AS bt FROM scored GROUP BY qb),
      cum AS (SELECT qb, bt,
                     coalesce(sum(bt) OVER (ORDER BY qb DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                       AS cum_hi
              FROM hist),
      kept_full AS (
        SELECT s.doc_id, s.q_1e6, s.n_tokens
        FROM scored s JOIN cum c ON c.qb = s.qb
        WHERE c.cum_hi + c.bt <= 15000),
      kept_boundary AS (
        SELECT doc_id, q_1e6, n_tokens FROM (
          SELECT s.doc_id, s.q_1e6, s.n_tokens,
                 c.cum_hi + sum(s.n_tokens) OVER (ORDER BY s.q_1e6 DESC, s.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM scored s JOIN cum c ON c.qb = s.qb
          WHERE c.cum_hi < 15000 AND c.cum_hi + c.bt > 15000)
        WHERE run <= 15000)
      SELECT doc_id, q_1e6, n_tokens FROM kept_full
      UNION ALL
      SELECT doc_id, q_1e6, n_tokens FROM kept_boundary
      ORDER BY doc_id"""))

  /** UniMax language mixing ([[graft.ops.Curation.unimaxAlloc]]) —
    * budget-capped uniform allocation, the temperature-free data-mix
    * pass: budget = 2/3 of the corpus's total tokens (derived from the
    * data so both SFs exercise the same structure), epoch cap = 1. On
    * the fixture the smallest language caps out and the rest share the
    * remainder uniformly (±1 token by name order) — the oracle replays
    * the closed-form waterfill (sorted prefix-sum capping condition,
    * integer quotient/remainder spread) 1:1, so the gate proves the
    * allocation algebra, not just row shapes. The driver-side budget
    * scalar is one tiny agg (languages-sized input; same pattern as
    * stream_dsir_exec's frozen weights). */
  val unimaxMix = Q(
    "sample_unimax_mix",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("lang"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
      val total = docs.agg(sum("n_tok")).collect()(0).getLong(0)
      Curation.unimaxAlloc(docs, strata = "lang", tokensCol = "n_tok",
        budget = total * 2 / 3, epochs = 1)
        .orderBy("lang")
    },
    Some("""
      WITH tokc AS (SELECT lang, count(*)::BIGINT AS n_docs,
                           sum(len(string_split(lower(text), ' ')))::BIGINT
                             AS avail
                    FROM documents GROUP BY lang),
      tot AS (SELECT count(*)::BIGINT AS l_tot,
                     ((SELECT sum(len(string_split(lower(text), ' ')))
                       FROM documents) * 2 // 3)::BIGINT AS b
              FROM tokc),
      idx AS (SELECT lang, n_docs, avail, avail AS cap,
                     row_number() OVER (ORDER BY avail, lang)::BIGINT AS i,
                     coalesce(sum(avail) OVER (ORDER BY avail, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS p_pre
              FROM tokc),
      cp AS (SELECT idx.*, t.l_tot, t.b,
                    (cap * (l_tot - i + 1) + p_pre <= b) AS capped
             FROM idx, tot t),
      ks AS (SELECT coalesce(sum(CASE WHEN capped THEN 1 END), 0)::BIGINT AS k,
                    coalesce(sum(CASE WHEN capped THEN cap END), 0)::BIGINT
                      AS p_k
             FROM cp),
      al AS (SELECT cp.*, ks.k, ks.p_k,
                    ((b - p_k) // greatest(l_tot - k, 1))::BIGINT AS q,
                    ((b - p_k) % greatest(l_tot - k, 1))::BIGINT AS r,
                    row_number() OVER (PARTITION BY capped ORDER BY lang)::BIGINT
                      AS j
             FROM cp, ks)
      SELECT lang, n_docs, avail AS avail_tokens,
             CASE WHEN capped THEN cap
                  ELSE q + (CASE WHEN j <= r THEN 1 ELSE 0 END) END
               AS alloc_tokens,
             (CASE WHEN capped THEN cap
                   ELSE q + (CASE WHEN j <= r THEN 1 ELSE 0 END) END)
               * 10000 // cap AS rate_bp
      FROM al ORDER BY lang"""))

  /** DuckDB replay of [[graft.ops.QualityModels.dsirScore]] 1:1 —
    * hashed uni+bigram features, per-bucket raw vs target (doc_id % 7)
    * counts, the integer fixed-point qlog2 (fl from a max-over-series
    * highest-set-bit, mantissa via `>>` shifts — pure integer, so the
    * hash gate is exact), per-doc averaged +65536-shifted score. Ends
    * with a `scored (doc_id, n_feat, dsir_score)` CTE both DSIR
    * entries build on. */
  private val dsirScoredCtes = """
      WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                   FROM documents),
      uni AS (SELECT doc_id, unnest(w) AS f FROM tok),
      bi AS (SELECT doc_id, w[i] || '_' || w[i + 1] AS f
             FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                   FROM tok WHERE len(w) >= 2)),
      feats AS MATERIALIZED (
        SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
      fcnt AS (SELECT f, count(*)::BIGINT AS ca,
                      (count(*) FILTER (WHERE doc_id % 7 = 0))::BIGINT AS ct
               FROM feats GROUP BY f),
      fb AS MATERIALIZED (
        SELECT f, ca, ct,
               CAST(sum((strpos('0123456789abcdef', substr(md5(f), k.k, 1)) - 1)
                        * (1::BIGINT << (4 * (15 - k.k)))) % 4096
                    AS BIGINT) AS b
        FROM fcnt, generate_series(1, 15) k(k)
        GROUP BY f, ca, ct),
      bc AS (SELECT b, (1 + sum(ca))::BIGINT AS rc, (1 + sum(ct))::BIGINT AS tc
             FROM fb GROUP BY b),
      fl AS (SELECT b, rc, tc,
                    max(CASE WHEN (rc >> k.k) >= 1 THEN k.k END) AS flr,
                    max(CASE WHEN (tc >> k.k) >= 1 THEN k.k END) AS flt
             FROM bc, generate_series(0, 40) k(k)
             GROUP BY b, rc, tc),
      wt AS (SELECT b,
                    (flt * 1024 + ((tc * 1024) >> flt) - 1024)
                  - (flr * 1024 + ((rc * 1024) >> flr) - 1024) AS delta
             FROM fl),
      dfeat AS (SELECT doc_id, f, count(*)::BIGINT AS cnt
                FROM feats GROUP BY doc_id, f),
      scored AS (
        SELECT d.doc_id, sum(d.cnt)::BIGINT AS n_feat,
               (sum(d.cnt * (w.delta + 65536))::BIGINT) // sum(d.cnt)::BIGINT
                 AS dsir_score
        FROM dfeat d
        JOIN fb ON fb.f = d.f
        JOIN wt w ON w.b = fb.b
        GROUP BY d.doc_id)"""

  /** DSIR importance resampling (Xie et al. 2023) — "select the corpus
    * slice that looks like the target domain": hashed uni+bigram
    * features contrast a target sample (here every 7th doc — the
    * stand-in for a trusted domain corpus) against the raw corpus,
    * each doc scores its average integer log2-importance ratio
    * ([[graft.ops.QualityModels.dsirScore]] — all shift/multiply
    * arithmetic, no transcendental surface, so the whole model is
    * DuckDB-hash-checked end to end, training included), and the
    * 20k-feature budget fills greedily from the top scores via the
    * proven no-global-window histogram selection
    * ([[graft.ops.Curation.tokenBudgetSelect]]). 100 TB shape: two
    * corpus passes (count tables, partial map-side) + one broadcast
    * join + a doc-sized rollup; the only unpartitioned window is over
    * the ≤1025-row score histogram. */
  val dsirSelect = Q(
    "sample_dsir_select",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val target = docs.filter(col("doc_id") % 7 === 0)
      // tokenBudgetSelect reads `scored` three times (histogram, full
      // buckets, boundary bucket); checkpointed, the scoring DAG — two
      // count passes + the broadcast-join rollup — runs once (doc-sized
      // frame). localCheckpoint, NOT cache(): CacheManager would pin the
      // frame for the session's lifetime AND serve a repeat bench run
      // from memory, understating this entry's cost vs every other
      // entry; checkpoint blocks are GC-reclaimed with the plan.
      val scored = graft.ops.QualityModels.dsirScore(docs, target)
        .localCheckpoint(eager = true)
      Curation.tokenBudgetSelect(scored, "dsir_score", "n_feat",
        budget = 20000L, bucketDiv = 256L, bestLow = false)
        .select("doc_id", "n_feat", "dsir_score")
        .orderBy("doc_id")
    },
    Some(s"""$dsirScoredCtes,
      sc2 AS (SELECT doc_id, n_feat, dsir_score, dsir_score // 256 AS qb
              FROM scored),
      hist AS (SELECT qb, sum(n_feat)::BIGINT AS bt FROM sc2 GROUP BY qb),
      cum AS (SELECT qb, bt,
                     coalesce(sum(bt) OVER (ORDER BY qb DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                       AS cum_hi
              FROM hist),
      kept_full AS (
        SELECT s.doc_id, s.n_feat, s.dsir_score
        FROM sc2 s JOIN cum c ON c.qb = s.qb
        WHERE c.cum_hi + c.bt <= 20000),
      kept_boundary AS (
        SELECT doc_id, n_feat, dsir_score FROM (
          SELECT s.doc_id, s.n_feat, s.dsir_score,
                 c.cum_hi + sum(s.n_feat) OVER (ORDER BY s.dsir_score DESC, s.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM sc2 s JOIN cum c ON c.qb = s.qb
          WHERE c.cum_hi < 20000 AND c.cum_hi + c.bt > 20000)
        WHERE run <= 20000)
      SELECT doc_id, n_feat, dsir_score FROM kept_full
      UNION ALL
      SELECT doc_id, n_feat, dsir_score FROM kept_boundary
      ORDER BY doc_id"""))

  /** [[graft.streaming.StreamOps.dsirStream]] under REAL micro-batch
    * execution — importance scoring at ingest: DSIR weights train
    * batch-side on the same (corpus, every-7th-doc) pair, freeze into
    * a ≤4096-entry map, and the corpus streams through the per-row
    * kernel in 4 chunks. Stateless (per-row cost O(doc length), nothing
    * grows), so like stream_decontam_exec the gate proves KERNEL
    * parity: the single-pass JVM tokenize → md5-fold → lookup → integer
    * average lands byte-for-byte on the declarative batch plan's
    * DuckDB-checked scores — the same-oracle twin of
    * `sample_dsir_select`'s scoring stage. */
  val streamDsirExec = Q(
    "stream_dsir_exec",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val target = docs.filter(col("doc_id") % 7 === 0)
      val wt = graft.ops.QualityModels.dsirWeights(docs, target)
        .as[(Long, Long)].collect().toMap // ≤4096 hashed-bucket weights
      val rows = StreamFeed
        .collectCapped(docs.as[(Long, String)], "stream_dsir_exec")
        .sortBy(_._1)
      val run = StreamFeed.replay(s, "stream_dsir_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps
          .dsirStream(in.toDF("doc_id", "text"), wt)
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      s.table(run.sink).orderBy("doc_id")
    },
    Some(s"""$dsirScoredCtes
      SELECT doc_id, n_feat, dsir_score FROM scored ORDER BY doc_id"""))

  /** The per-key ingest cap under REAL micro-batch execution (the
    * runtime gate for `StreamOps.capPerKey`, previously only
    * spec'd on an in-memory stream): documents replayed source-keyed in 4
    * doc_id-ordered chunks; the stateful counter must keep exactly the
    * FIRST 50 arrivals per source ACROSS batches — a later batch's doc
    * is dropped because of budget consumed in earlier batches. Event
    * times increase with doc_id and capPerKey processes each batch in
    * (ts, id) order, so the kept set is deterministic and the oracle is
    * plain row_number over doc_id. */
  val streamCapExec = Q(
    "stream_cap_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(Tables.documents(s, dir)
        .select(col("source"),
          timestamp_micros((col("doc_id") + 1000000L) * 1000000L).as("ts"),
          col("doc_id").cast("string").as("id"))
        .as[(String, java.sql.Timestamp, String)], "stream_cap_exec")
        .sortBy(_._3.toLong)
      val run = StreamFeed.replay(s, "stream_cap_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps
          .capPerKey(in.toDF("key", "ts", "id"), cap = 50, lateness = "7 days")
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      s.table(run.sink)
        .select(col("key").as("source"), col("id").cast("long").as("doc_id"))
        .orderBy("source", "doc_id")
    },
    Some("""
      SELECT source, doc_id
      FROM (SELECT source, doc_id,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id)
                     AS rn
            FROM documents)
      WHERE rn <= 50 ORDER BY source, doc_id"""))

  /** Deterministic curriculum ordering ([[graft.ops.Curation
    * .curriculumOrder]] — shortest-first with an md5 shuffle inside each
    * length band): the Spark side runs the DISTRIBUTED two-phase ordering
    * (micro-bucket histogram → broadcast offsets → within-micro rank),
    * the oracle the same ordering as ONE global sort — the hash gate
    * proves the two formulations land on the identical dense position for
    * every document, which is exactly the property a resumable training
    * run needs from its data order. */
  val curriculumOrder = Q(
    "sample_curriculum_order",
    (s, dir) =>
      Curation.curriculumOrder(Tables.documents(s, dir))
        .orderBy("position"),
    Some("""
      WITH t AS (SELECT doc_id,
                        len(string_split(lower(text), ' '))::BIGINT AS n_tok,
                        md5('c' || doc_id) AS h
                 FROM documents)
      SELECT doc_id, n_tok, n_tok // 16 AS bucket,
             (row_number() OVER (ORDER BY n_tok // 16, substr(h, 1, 2), h,
                                 doc_id) - 1)::BIGINT AS position
      FROM t ORDER BY position"""))

  def qs: Seq[Q] =
    Seq(repetition, decontaminate, piiScrub, quotaSample, packSequences,
      packFfd,
      splitTrainVal, chunkDocuments, temperatureMix, qualityPercentileFilter,
      tokenBudgetSample, unimaxMix, dsirSelect, curriculumOrder,
      streamDsirExec, streamCapExec)
}
