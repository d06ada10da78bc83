package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.{Scratch, Tables}
import graft.functions.Distances
import graft.index.LshForest

/** Training-data-pipeline deduplication (builder brief; beyond the
  * reference's bit-exact I10): exact text dedup, MinHash+LSH banded
  * near-dup, SimHash, n-gram Jaccard verification, and embedding-cosine
  * near-dup over LSH buckets. Everything is bucketed — no stage ever
  * compares all pairs.
  *
  * The MinHash pipeline derives its permutations from md5 (present and
  * bit-identical in both Spark and DuckDB), which makes the whole
  * shingle → signature → band → candidate → verify cascade SQL-expressible
  * and hash-checkable cross-engine — rare for an LSH pipeline.
  */
object DedupQueries {

  private val ShingleN = 3 // word n-gram size
  private val Perms = 16 // minhash permutations
  private val BandRows = 4 // 4 bands x 4 rows
  private val JaccardThreshold = 0.8

  /** Word shingles of `text`: n-grams of the single-space tokenization;
    * documents shorter than n words contribute one whole-text shingle.
    * (Split on the literal space to match the oracle's string_split.) */
  private[graft] def shingleCol: Column = {
    val words = split(lower(col("text")), " ")
    when(size(words) >= ShingleN,
      transform(sequence(lit(0), size(words) - ShingleN),
        i => concat_ws(" ", slice(words, i + 1, lit(ShingleN)))))
      .otherwise(array(concat_ws(" ", words)))
  }

  /** Distinct (doc_id, shingle) pairs from any (doc_id, text) frame. */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingleCol).as("shingle")).distinct()

  /** Distinct (doc_id, shingle) pairs. */
  private def shingleTable(s: SparkSession, dir: String): DataFrame =
    shingles(Tables.documents(s, dir))

  /** Banded MinHash signatures: (doc_id, band_id, band_hash). Permutation j
    * of a shingle is md5(j || '|' || shingle); the signature entry is the
    * minimum over shingles; a band hashes BandRows consecutive entries.
    * Computed per ROW by the shared [[graft.ops.Minhash]] kernel — ZERO
    * shuffles, vs the original explode(|shingles|·Perms) → groupBy-min →
    * collect_list form (two aggregation shuffles and a 16× row blow-up
    * for the identical result; duplicates in the sliding shingle stream
    * cannot change a min, so the old DISTINCT was also dead weight).
    * Every consumer's DuckDB oracle hash is unchanged — the cross-engine
    * parity proof for the hand-rolled kernel. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig", graft.ops.Minhash.signatureUdf(Perms)(col("text")))
      .select(col("doc_id"),
        posexplode(graft.ops.Minhash.bandHashes(col("sig"), Perms, BandRows))
          .as(Seq("band_id", "band_hash")))

  private def bandTable(s: SparkSession, dir: String): DataFrame =
    bandsOf(Tables.documents(s, dir))

  /** True n-gram Jaccard over a CANDIDATE pair set alone (never all
    * pairs), thresholded and 1e-4 rounded — the verify stage shared by
    * the full self-join and the delta-increment form. */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.as("ca"), col("ca.doc_id") === col("doc_a"))
      .join(cnt.as("cb"), col("cb.doc_id") === col("doc_b"))
      .withColumn("jaccard",
        col("inter") / (col("ca.n") + col("cb.n") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Candidate pairs = docs sharing any band bucket (the ONLY pair
    * generation — never all-pairs), then verified with true n-gram Jaccard
    * computed on the candidate set alone. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = bandTable(s, dir)
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(pairs, shingleTable(s, dir))
  }

  /** Delta-increment near-dup: every verified pair INVOLVING the delta,
    * computed by joining only the DELTA's band signatures against the
    * full band table (in production the base side is the PERSISTED band
    * table from the previous increment — the daily-crawl pattern), then
    * true-Jaccard-verifying just the delta-involving candidates. Work is
    * O(|delta| · bucket occupancy) for candidates plus the verify join —
    * never a full-corpus pair recompute; equals the full self-join
    * restricted to pairs with an endpoint in the delta (spec-gated, and
    * the catalog oracle replays the full pipeline with that filter). */
  private[graft] def minhashPairsDelta(
      allDocs: DataFrame, allBands: DataFrame, deltaBands: DataFrame): DataFrame = {
    // localCheckpoint: the endpoint probe take() and the verify join BOTH
    // drive the candidate set — uncached, the delta-vs-base bucket join
    // and its distinct would execute twice per micro-batch (materialize
    // once, stay distributed).
    val pairs = deltaBands.as("d")
      .join(allBands.as("a"),
        col("d.band_id") === col("a.band_id") &&
          col("d.band_hash") === col("a.band_hash") &&
          col("a.doc_id") =!= col("d.doc_id"))
      .select(
        least(col("a.doc_id"), col("d.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("d.doc_id")).as("doc_b"))
      .distinct()
      .localCheckpoint()
    // Verify shingles only for docs a candidate actually names — without
    // the pruning the verify stage re-explodes the WHOLE corpus's
    // shingles and the increment degenerates toward full-recompute cost
    // (measured 22.6 s -> 15.8 s at 100k base + 15k delta; what remains
    // is the irreducible delta banding + bucket join).
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // Two-tier endpoint fetch: a SMALL endpoint set pushes into the corpus
    // scan as a literal IN predicate — row-group pruning against the
    // doc_id-clustered compacted doc store makes the fetch pruned I/O
    // instead of a corpus scan + semi-join.
    // Large sets keep the semi-join (a 100k-literal predicate costs more
    // than it saves, and row-group stats can't help it).
    val probe = pairDocs.take(1025)
    val endpointDocs =
      if (probe.length <= 1024)
        allDocs.filter(col("doc_id").isin(probe.map(_.get(0)).toSeq: _*))
      else allDocs.join(pairDocs, Seq("doc_id"), "left_semi")
    verifyJaccard(pairs, shingles(endpointDocs))
  }

  /** Shared oracle shingle CTEs (the `sh` table both the MinHash and the
    * n-gram-Jaccard oracles start from), mirroring [[shingleTable]] 1:1. */
  private val oracleShingles = s"""
      WITH words AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) >= $ShingleN
                    THEN array_to_string(w[i+1:i+$ShingleN], ' ')
                    ELSE array_to_string(w, ' ') END AS shingle
        FROM (SELECT doc_id, w,
                     unnest(range(0, greatest(len(w) - $ShingleN, 0) + 1)) AS i
              FROM words))"""

  /** Shared oracle CTE chain mirroring the Spark MinHash pipeline 1:1. */
  private val oraclePipeline = s"""$oracleShingles,
      mh AS (
        SELECT doc_id, p.j, min(md5(p.j::VARCHAR || '|' || shingle)) AS mh
        FROM sh, generate_series(1, $Perms) p(j)
        GROUP BY doc_id, p.j),
      bands AS (
        SELECT doc_id, CAST((j-1) // $BandRows AS INT) AS band_id,
               md5(string_agg(mh, '' ORDER BY j)) AS band_hash
        FROM mh GROUP BY doc_id, CAST((j-1) // $BandRows AS INT)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      vp AS (
        SELECT i.doc_a, i.doc_b,
               i.inter / (ca.n + cb.n - i.inter) AS jaccard
        FROM (SELECT p.doc_a, p.doc_b, count(*) AS inter
              FROM pairs p
              JOIN sh sa ON sa.doc_id = p.doc_a
              JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b) i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b
        WHERE i.inter / (ca.n + cb.n - i.inter) >= $JaccardThreshold)"""

  /** Per-JVM cache of the verified pair set: `minhash_pairs` and
    * `minhash_keep` share one computation of the band pipeline. Persisted
    * as parquet rather than collected — the pair set is proportional to the
    * corpus's duplication, which a 100 TB crawl makes arbitrarily large;
    * readers get a distributed scan. The file's other pair and label
    * caches are [[Scratch.parquet]] frames too. */
  object PairsCache {
    def get(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "pairs", dir)(verifiedPairs(s, dir))
  }

  /** Exact doc dedup on md5(text), first (lowest doc_id) wins — the text
    * analogue of I10's bit-pattern dedup. The fixture has no exact text
    * dups, so the query plants them (shifted-id union). */
  val dedupExactDocs = Q(
    "dedup_exact_docs",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val dup = d.unionAll(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      dup.groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id", "text_md5")
        .orderBy("doc_id")
    },
    Some("""
      WITH dup AS (SELECT doc_id, text FROM documents
                   UNION ALL
                   SELECT doc_id + 100000, text FROM documents)
      SELECT min(doc_id) AS doc_id, md5(text) AS text_md5
      FROM dup
      GROUP BY md5(text)
      ORDER BY doc_id"""))

  /** MinHash near-dup candidate pairs with n-gram-Jaccard verification —
    * the load-bearing operator of a training-data pipeline, hash-checked
    * against DuckDB running the identical cascade. */
  val minhashPairs = Q(
    "dedup_minhash_pairs",
    (s, dir) => PairsCache.get(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""$oraclePipeline
      SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
      FROM vp ORDER BY doc_a, doc_b"""))

  /** The increment pattern as a gated entry: documents split at the id
    * midpoint into base + delta; only the delta's bands join the full
    * band table, and the oracle replays the FULL pipeline filtered to
    * delta-involving pairs (doc_b past the split implies an endpoint in
    * the delta, since ids order the halves) — proving the delta
    * computation finds exactly the pairs a full recompute would. */
  /** Persisted base-half band table — what production carries forward
    * from the previous increment, so the ENTRY's measured cost is the
    * delta work (delta banding + bucket join + verify), not a re-band of
    * the base it would never redo. */
  private object BaseBandsCache {
    def get(s: SparkSession, dir: String, split: Long): DataFrame =
      Scratch.parquet(s, "basebands", dir)(
        bandsOf(Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") < split)))
  }

  /** The doc-id midpoint both increment entries split the corpus at. */
  private def deltaSplit(s: SparkSession, dir: String): Long =
    (Tables.documents(s, dir).agg(max("doc_id")).first().getLong(0) + 1) / 2

  /** Per-JVM cache of the DELTA-involving verified pair set — the one
    * artifact a production daily loop computes once and then feeds to
    * BOTH consumers (the pair report and the cluster update), so
    * `dedup_minhash_incremental` and `dedup_cluster_incremental` share
    * it instead of each re-running the delta banding + bucket join +
    * verify. Whichever entry runs first bears the (measured) delta
    * cost; the other reads the persisted parquet — the same
    * split-build-from-serve pattern as PairsCache/engine_build_docs. */
  private object DeltaPairsCache {
    def get(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "deltapairs", dir) {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val split = deltaSplit(s, dir)
        val deltaBands = bandsOf(docs.filter(col("doc_id") >= split))
        val allBands = BaseBandsCache.get(s, dir, split).unionAll(deltaBands)
        minhashPairsDelta(docs, allBands, deltaBands)
      }
  }


  val minhashIncremental = Q(
    "dedup_minhash_incremental",
    (s, dir) => DeltaPairsCache.get(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""$oraclePipeline
      SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
      FROM vp
      WHERE doc_b >= (SELECT (max(doc_id) + 1) // 2 FROM documents)
      ORDER BY doc_a, doc_b"""))

  /** Banded signatures under the CHEAP affine family
    * ([[graft.ops.Minhash.signatureAffineUdf]] — one md5 per distinct
    * shingle + multiply-add permutations, vs [[bandsOf]]'s nPerms digests
    * per shingle). Band key = the 4 BIGINT entries comma-joined. */
  private[graft] def bandsOfFast(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig", graft.ops.Minhash.signatureAffineUdf(Perms)(col("text")))
      .select(col("doc_id"),
        posexplode(graft.ops.Minhash.bandKeysAffine(col("sig"), Perms, BandRows))
          .as(Seq("band_id", "band_hash")))

  /** The affine signature family's hsh → mh → bands CTE chain (shared by
    * the batch and streaming oracles — ONE definition, so a coefficient
    * or fold change can never desynchronize the two gates). `mat`
    * interpolates MATERIALIZED for oracles whose planner needs it. */
  private def affineSigCtes(mat: String = "") = s"""
      hsh AS $mat (
        SELECT doc_id, shingle,
               CAST(sum(CASE WHEN k.k <= 15
                        THEN (strpos('0123456789abcdef', substr(md5(shingle), k.k, 1)) - 1)
                             * (1::BIGINT << (4 * (15 - k.k))) ELSE 0 END)
                    % ${graft.ops.Minhash.AffineP} AS BIGINT) AS h1,
               CAST(sum(CASE WHEN k.k > 15
                        THEN (strpos('0123456789abcdef', substr(md5(shingle), k.k, 1)) - 1)
                             * (1::BIGINT << (4 * (30 - k.k))) ELSE 0 END)
                    % ${graft.ops.Minhash.AffineP} AS BIGINT) AS h2
        FROM sh, generate_series(1, 30) k(k)
        GROUP BY doc_id, shingle),
      mh AS $mat (
        SELECT doc_id, p.j,
               min((p.a * (CASE WHEN p.j <= ${Perms / 2} THEN h1 ELSE h2 END)
                    + p.b) % ${graft.ops.Minhash.AffineP}) AS mh
        FROM hsh, (VALUES ${graft.ops.Minhash.affineCoeffsSql(Perms)}) p(j, a, b)
        GROUP BY doc_id, p.j),
      bands AS $mat (
        SELECT doc_id, CAST((j-1) // $BandRows AS INT) AS band_id,
               string_agg(mh::VARCHAR, ',' ORDER BY j) AS band_hash
        FROM mh GROUP BY doc_id, CAST((j-1) // $BandRows AS INT))"""

  /** Oracle CTE chain replaying the AFFINE signature family 1:1: fold hex
    * chars 1–15 AND 16–30 of md5(shingle) to TWO independent 60-bit
    * integers (each nibble · 16-power sum stays < 2⁶³ — BIGINT-safe,
    * which is why the kernel truncates at 60 bits), reduce each mod
    * 2³¹−1, apply the literal (a_j, b_j) VALUES the Scala kernel derives
    * from the same constants — permutations 1..8 over h1, 9..16 over h2
    * (the split that de-correlates the per-entry minima, see
    * [[graft.ops.Minhash.signatureAffineUdf]]) — min per permutation,
    * band on the comma-joined entries, then the SAME candidate/verify
    * tail as [[oraclePipeline]]. */
  private val oraclePipelineFast = s"""$oracleShingles,
${affineSigCtes()},
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      vp AS (
        SELECT i.doc_a, i.doc_b,
               i.inter / (ca.n + cb.n - i.inter) AS jaccard
        FROM (SELECT p.doc_a, p.doc_b, count(*) AS inter
              FROM pairs p
              JOIN sh sa ON sa.doc_id = p.doc_a
              JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b) i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b
        WHERE i.inter / (ca.n + cb.n - i.inter) >= $JaccardThreshold)"""

  /** [[minhashPairs]] under the affine family — the full
    * shingle → one-digest-signature → band → candidate → true-Jaccard
    * cascade, hash-checked against the DuckDB replay. The md5-per-
    * permutation entry stays as the cross-engine parity twin; THIS is the
    * kernel a 100 TB run uses (signature pass severalfold cheaper —
    * measured by the deleted DedupScaleProbe's `sigkernel` leg, whose
    * figures PROBES.md keeps). */
  /** Per-JVM cache of the affine family's verified pair set — the same
    * build-once-read-many pattern (and bench comparability) as the md5
    * family's [[PairsCache]]; the kernel's cost claim is measured where
    * it belongs, in the deleted DedupScaleProbe's `sigkernel` leg
    * (figures in PROBES.md). */
  private object FastPairsCache {
    def get(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "fastpairs", dir) {
        val bands = bandsOfFast(Tables.documents(s, dir))
        val pairs = bands.as("a")
          .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        verifyJaccard(pairs, shingleTable(s, dir))
      }
  }


  val minhashPairsFast = Q(
    "dedup_minhash_pairs_fast",
    (s, dir) => FastPairsCache.get(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""$oraclePipelineFast
      SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
      FROM vp ORDER BY doc_a, doc_b"""))

  /** CROSS-SOURCE duplication matrix — the crawl-governance view of the
    * verified near-dup pair set: which sources duplicate WHICH (a mirror
    * site shows up as a hot off-diagonal cell; a self-duplicating crawl
    * as a hot diagonal). Pure composition: the shared [[PairsCache]] pair
    * set labeled with each endpoint's source (two broadcast-able joins
    * against the docs projection), rolled up to the source×source grid
    * with (least, greatest) canonicalization so the matrix is upper-
    * triangular and the hash can't flake on pair orientation. At 100 TB
    * the grid is |sources|²-sized — the same derived-table-then-rollup
    * shape as `dedup_profile`, reusing the already-persisted pairs. */
  val sourceMatrix = Q(
    "dedup_source_matrix",
    (s, dir) => {
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      PairsCache.get(s, dir)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          "doc_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""$oraclePipeline,
      lab AS (SELECT least(da.source, db.source) AS source_a,
                     greatest(da.source, db.source) AS source_b
              FROM vp
              JOIN documents da ON da.doc_id = vp.doc_a
              JOIN documents db ON db.doc_id = vp.doc_b)
      SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
      FROM lab GROUP BY 1, 2 ORDER BY source_a, source_b"""))

  /** FUZZY eval-set decontamination — the near-dup form of
    * `text_decontaminate`'s exact 5-gram overlap. Real contamination is
    * usually a lightly EDITED copy of an eval document (reformatted,
    * truncated, one field changed); this entry flags every corpus doc
    * whose true shingle Jaccard against ANY benchmark doc reaches the
    * near-dup threshold, via the affine MinHash kernel with the
    * benchmark on the DELTA side of [[minhashPairsDelta]] — corpus
    * bands compute per-row (zero shuffle), only band-colliding
    * (corpus, bench) candidates verify, and at 100 TB the benchmark
    * side is eval-set-sized (thousands of docs): its bands broadcast
    * while the corpus streams map-side, exactly the exact-decontam
    * plan's asymmetry with edit tolerance added. Benchmark = every 13th
    * doc with one appended token (J ≈ 0.93 to its source — over the
    * 0.8 threshold but not byte-identical); the oracle replays the
    * planted union through the full affine cascade restricted to
    * bench-involving pairs, so the hash gate proves the fuzzy match
    * set, not just the planted diagonal. Output: one row per
    * contaminated corpus doc with its benchmark match count and worst
    * (max) Jaccard. */
  /** The fuzzy-decontamination pipeline over (doc_id, text) frames.
    * Benchmark doc_ids must all be >= `benchFloor` and corpus doc_ids
    * below it (the bench-involving filter keys on the split). */
  private def decontaminateFuzzyFrom(
      docs: DataFrame, bench: DataFrame, benchFloor: Long): DataFrame = {
    val benchBands = bandsOfFast(bench)
    val allBands = bandsOfFast(docs).unionAll(benchBands)
    minhashPairsDelta(docs.unionAll(bench), allBands, benchBands)
      .filter(col("doc_b") >= benchFloor && col("doc_a") < benchFloor)
      .groupBy("doc_a")
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("doc_a").as("doc_id"), col("n_bench_matches"),
        col("max_jaccard"))
      .orderBy("doc_id")
  }

  val decontaminateFuzzy = Q(
    "text_decontaminate_fuzzy",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzeval")).as("text"))
      decontaminateFuzzyFrom(docs, bench, benchFloor = 200000L)
    },
    Some(s"""
      WITH docs AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, text || ' zzeval'
        FROM documents WHERE doc_id % 13 = 0),
      words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM docs),
      sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) >= $ShingleN
                    THEN array_to_string(w[i+1:i+$ShingleN], ' ')
                    ELSE array_to_string(w, ' ') END AS shingle
        FROM (SELECT doc_id, w,
                     unnest(range(0, greatest(len(w) - $ShingleN, 0) + 1)) AS i
              FROM words)),
${affineSigCtes("MATERIALIZED")},
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
        WHERE a.doc_id < 200000 AND b.doc_id >= 200000),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      vp AS (
        SELECT i.doc_a, i.doc_b,
               i.inter / (ca.n + cb.n - i.inter) AS jaccard
        FROM (SELECT p.doc_a, p.doc_b, count(*) AS inter
              FROM pairs p
              JOIN sh sa ON sa.doc_id = p.doc_a
              JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b) i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b
        WHERE i.inter / (ca.n + cb.n - i.inter) >= $JaccardThreshold)
      SELECT doc_a AS doc_id, count(*)::BIGINT AS n_bench_matches,
             round(max(jaccard), 4) AS max_jaccard
      FROM vp GROUP BY doc_a ORDER BY doc_id"""))

  /** Persisted BASE-half component labels — the other artifact production
    * carries forward between increments (next to [[BaseBandsCache]]'s band
    * table): components over the verified pairs WITHIN the base half,
    * derived here by filtering the cached full pair set (doc_a < doc_b, so
    * doc_b < split ⟺ both endpoints in the base). */
  private object BaseLabelsCache {
    def get(s: SparkSession, dir: String, split: Long): DataFrame =
      Scratch.parquet(s, "baselabels", dir)(
        graft.ops.ConnectedComponents.components(
          PairsCache.get(s, dir).filter(col("doc_b") < split)
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))))
  }

  /** The FULL daily-crawl increment loop, composed end to end:
    * [[minhashIncremental]]'s delta pairs (delta bands vs the persisted
    * base band table) feed
    * [[graft.ops.ConnectedComponents.updateIncremental]] against the
    * persisted base labels — delta edges merged into existing components
    * at O(|delta| + touched components), never a full pair-graph
    * recompute. The oracle IS the full recompute (recursive transitive
    * closure over the complete verified pair set), so the hash gate
    * proves increment ≡ recompute on the real near-dup graph. */
  /** Full-recompute oracle over the complete minhash verified pair set:
    * recursive transitive closure to min-reachable labels — the gate both
    * incremental cluster entries (batch delta AND streaming epochs) must
    * land on exactly. */
  private val minhashClosureOracle =
    s"""${oraclePipeline.replaceFirst("WITH", "WITH RECURSIVE")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM vp
              UNION SELECT doc_b, doc_a FROM vp
              UNION SELECT doc_a, doc_a FROM vp
              UNION SELECT doc_b, doc_b FROM vp),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b)
      SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id"""

  val clusterIncremental = Q(
    "dedup_cluster_incremental",
    (s, dir) => {
      val deltaPairs = DeltaPairsCache.get(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.ops.ConnectedComponents.updateIncremental(
        BaseLabelsCache.get(s, dir, deltaSplit(s, dir)), deltaPairs)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(minhashClosureOracle))

  /** Streaming duplicate-cluster maintenance in the correctness gate —
    * the continuous form of [[clusterIncremental]]: the verified pair set
    * replayed as EDGES through an in-memory stream in 4 ROUND-ROBIN chunks
    * (so a cluster's pairs deliberately land in different micro-batches
    * and the store must merge components ACROSS epochs, not just label
    * within one), folded into the versioned parquet store by
    * [[graft.streaming.StreamOps.maintainComponents]]
    * (foreachBatch + idempotent-replay commit markers — the
    * incremental-view-maintenance shape, since append-mode emission is
    * impossible when merges retroactively relabel old nodes). The final
    * store version must land on the SAME full-recompute closure hash as
    * the batch entries. */
  val streamClusterExec = Q(
    "stream_cluster_exec",
    (s, dir) => {
      import s.implicits._
      val pairs = StreamFeed.collectCapped(
        PairsCache.get(s, dir).select("doc_a", "doc_b")
          .orderBy("doc_a", "doc_b"), "stream_cluster_exec")
        .map(r => (r.getLong(0), r.getLong(1)))
      val roundRobin = (0 until 4)
        .map(k => pairs.zipWithIndex.collect { case (p, i) if i % 4 == k => p })
        .filter(_.nonEmpty).map(_.toSeq)
      val root = StreamFeed.replay(s, "stream_cluster_exec", 8, roundRobin) {
        (in, run) =>
          graft.streaming.StreamOps.maintainComponents(
            in.toDF("src", "dst"), s"${run.dir}/store", s"${run.dir}/ckpt")
      }.dir
      graft.streaming.StreamOps.currentComponents(s, s"$root/store").get
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(minhashClosureOracle))

  /** Extraction replay for the crawl→dedup composition oracle: the
    * crawl's kept-chunk reassembly as CTEs producing
    * crawl_docs(doc_id, text) — documents chunked to 10-token paragraphs
    * (the [[graft.ops.Html.wrapDocument]] page contract), ≥ 25-char
    * chunks kept and space-rejoined (the extraction keep rule,
    * `text_html_extract`'s oracle verbatim); docs with no kept chunks
    * drop — they have no text to dedup on either engine. */
  private val crawlDocsCtes = s"""
      ctoks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
                FROM documents),
      cchunks AS (SELECT doc_id, j AS chunk_no,
                         array_to_string(toks[(j*10+1):(j*10+10)], ' ') AS chunk
                  FROM (SELECT doc_id, toks,
                               ((len(toks) + 9) // 10)::BIGINT AS n_chunks
                        FROM ctoks), unnest(range(0, n_chunks)) t(j)),
      crawl_docs AS (SELECT doc_id,
                            string_agg(chunk, ' ' ORDER BY chunk_no) AS text
                     FROM cchunks WHERE len(chunk) >= 25 GROUP BY doc_id)"""

  /** [[minhashClosureOracle]] over the CRAWL-EXTRACTED corpus: same band
    * pipeline + transitive closure, shingling crawl_docs instead of raw
    * documents. */
  private val crawlClosureOracle = minhashClosureOracle
    .replaceFirst("FROM documents\\)", "FROM crawl_docs)")
    .replaceFirst("WITH RECURSIVE", s"WITH RECURSIVE $crawlDocsCtes,")

  /** The STREAMING crawl → near-dup handoff, composed end to end (VERDICT
    * r13 ask 6): pages arrive in 4 micro-batches through the real crawl
    * front-end (url-canonical first-wins state — every page is also
    * REFETCHED under a noisy url variant, and a leaked refetch would band
    * at Jaccard 1.0 against its original and break the hash — then
    * map-side extraction), and each epoch's NEW pages flow through
    * [[graft.streaming.StreamOps.applyCrawlDedupBatch]]: band-store
    * epoch append, delta banding against the maintained band table,
    * candidate verify against the doc store's texts, verified pairs
    * folded into the component store incrementally. The final maintained
    * labels must hash-land on the FULL-RECOMPUTE closure over the
    * crawl-extracted corpus — crawl-epoch → delta-pairs →
    * incremental-labels ≡ recompute, continuously. */
  val streamCrawlDedupExec = Q(
    "stream_crawl_dedup_exec",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val pageUdf = udf((t: String) => graft.ops.Html.wrapDocument(t))
      val fetches = docs.select(col("doc_id"),
          concat(lit("https://www.example.com/doc/"), col("doc_id")).as("url"),
          pageUdf(col("text")).as("page"))
        .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("HTTPS://WWW.Example.com:443//doc//"), col("doc_id"),
            lit("/?utm_source=feed#frag")).as("url"),
          pageUdf(col("text")).as("page")))
      val rows = StreamFeed.collectCapped(fetches
        .select(
          timestamp_micros((col("doc_id") % 100000 + 1000000L) * 1000000L)
            .as("ts"),
          col("doc_id"), col("url"), col("page"))
        .as[(java.sql.Timestamp, Long, String, String)],
        "stream_crawl_dedup_exec")
        .sortBy(_._2)
      val root = StreamFeed.replay(s, "stream_crawl_dedup_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps.maintainCrawlDedup(
          graft.streaming.StreamOps.crawlIngestStream(
            in.toDF("ts", "doc_id", "url", "page"), lateness = "7 days"),
          s"${run.dir}/docs", s"${run.dir}/bands", s"${run.dir}/labels",
          s"${run.dir}/ckpt", bandsOf, minhashPairsDelta)
      }.dir
      graft.streaming.StreamOps.currentComponents(s, s"$root/labels").get
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(crawlClosureOracle))

  /** Keep-list under first-wins semantics: drop every doc that near-dups a
    * lower id (greedy, matches I10's first-inserted-wins). */
  val minhashKeep = Q(
    "dedup_minhash_keep",
    (s, dir) => {
      val drop = PairsCache.get(s, dir).select(col("doc_b").as("doc_id")).distinct()
      Tables.documents(s, dir).select("doc_id")
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    Some(s"""$oraclePipeline
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_b FROM vp)
      ORDER BY doc_id"""))

  /** Exact n-gram-Jaccard self-join via prefix filtering (AllPairs/PPJoin
    * family): rank every doc's shingles by global rarity; a pair with
    * J ≥ t cannot avoid the first n − ⌈t·n⌉ + 1 shingles of either side
    * (its intersection has ≥ ⌈t·n⌉ members), so joining each doc's PREFIX
    * against the full inverted index finds every qualifying pair — exact,
    * unlike probabilistic MinHash banding — while the join fans out only on
    * the globally rarest shingles. All thresholds are integer comparisons
    * (⌈4n/5⌉ = (4n+4) div 5; J ≥ 0.8 ⟺ 9·inter ≥ 4·(na+nb)), and the
    * reported jaccard is a single exact-integer division — deterministic
    * cross-engine, no accumulation-order float risk. */
  /** Candidate pairs from the prefix filter alone (exposed for the scale
    * probe: candidate-set growth is the quantity that decides whether the
    * join survives a 100× corpus). */
  private[graft] def ngramCandidates(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(docs)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val pref = sh.join(freq, "shingle")
      .withColumn("rk", row_number().over(byRarity))
      .join(cnt, "doc_id")
      .filter(col("rk") <= col("n") - expr("(4*n + 4) div 5") + 1)
      .select("doc_id", "shingle")
    pref.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private[graft] def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val sh = shingles(docs)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ngramCandidates(docs)
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(lit(9) * col("inter") >= lit(4) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
  }

  /** Per-JVM parquet cache of the verified n-gram pair set (same pattern
    * and rationale as [[PairsCache]]). */
  object NgramPairsCache {
    def get(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "ngram_pairs", dir)(
        ngramJaccardPairs(Tables.documents(s, dir)))
  }

  /** Shared oracle CTE chain for the prefix-filtered pipeline, ending (like
    * [[oraclePipeline]]) in a `vp(doc_a, doc_b, jaccard)` relation. */
  private[catalog] val oracleNgramPipeline = s"""$oracleShingles,
      ncnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      pref AS (
        SELECT r.doc_id, r.shingle
        FROM (SELECT s.doc_id, s.shingle,
                     row_number() OVER (PARTITION BY s.doc_id
                                        ORDER BY f.df, s.shingle) AS rk
              FROM sh s JOIN freq f USING (shingle)) r
        JOIN ncnt c USING (doc_id)
        WHERE r.rk <= c.n - (4*c.n + 4) // 5 + 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN sh b ON b.shingle = a.shingle
                             AND a.doc_id < b.doc_id),
      i AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY c.doc_a, c.doc_b),
      vp AS (SELECT i.doc_a, i.doc_b,
                    i.inter / (ca.n + cb.n - i.inter) AS jaccard
             FROM i JOIN ncnt ca ON ca.doc_id = i.doc_a
                    JOIN ncnt cb ON cb.doc_id = i.doc_b
             WHERE 9*i.inter >= 4*(ca.n + cb.n))"""

  val ngramJaccard = Q(
    "dedup_ngram_jaccard",
    (s, dir) => NgramPairsCache.get(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""$oracleNgramPipeline
      SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
      FROM vp ORDER BY doc_a, doc_b"""))

  /** Keep-list under the EXACT pair set (first-wins, same greedy semantics
    * as `dedup_minhash_keep`): with prefix filtering the drop set is
    * provably every doc that near-dups a lower id — no banding misses. */
  /** Quality-aware cluster survivor selection — the KEEP policy real
    * pipelines actually run where `dedup_ngram_keep`'s first-wins greedy
    * keeps whichever duplicate happened to get the lower id: per near-dup
    * CLUSTER (components over the exact pair graph; singletons label
    * themselves), keep the member with the MOST tokens (the
    * keep-the-longest rule — near-dup clusters usually contain truncated
    * or boilerplate-wrapped copies of one canonical text), ties toward
    * the smaller id. One components fixpoint on the pairs-sized graph,
    * one left join to label the corpus, one cluster-keyed argmax
    * (`max_by` via struct max — no window over the corpus). Oracle
    * replays closure, labeling, token counts and the argmax, so the
    * whole policy is inside the hash gate. */
  val clusterKeepBest = Q(
    "dedup_cluster_keep_best",
    (s, dir) => {
      val edges = NgramPairsCache.get(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val labels = graft.ops.ConnectedComponents.components(edges)
        .select(col("node").as("doc_id"), col("component").as("cid"))
      // coalesce(text, ''): a NULL text must tokenize to 0 on BOTH
      // engines — Spark's size(regexp_extract_all(NULL)) yields NULL/-1
      // while the oracle's equality join would drop the cluster (ADVICE
      // r11); the fixture has no NULL text, but the entry must not rely
      // on that
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(expr(
          "regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+', 0)"))
          .cast("long").as("n_tok"))
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("cid"), col("doc_id")).as("cluster_id"))
        .groupBy("cluster_id")
        .agg(max(struct(col("n_tok"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("cluster_id"), (-col("b.nid")).as("doc_id"),
          col("b.n_tok").as("n_tok"))
        .orderBy("cluster_id")
    },
    Some(s"""${oracleNgramPipeline.replaceFirst("WITH", "WITH RECURSIVE")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM vp
              UNION SELECT doc_b, doc_a FROM vp
              UNION SELECT doc_a, doc_a FROM vp
              UNION SELECT doc_b, doc_b FROM vp),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b),
      lab AS (SELECT a AS doc_id, min(b) AS cid FROM reach GROUP BY a),
      tok AS (SELECT doc_id,
                     len(regexp_extract_all(lower(coalesce(text, '')),
                         '[a-z0-9]+'))::BIGINT
                       AS n_tok
              FROM documents),
      lbl AS (SELECT t.doc_id, t.n_tok,
                     coalesce(l.cid, t.doc_id)::BIGINT AS cluster_id
              FROM tok t LEFT JOIN lab l USING (doc_id)),
      mx AS (SELECT cluster_id, max(n_tok) AS m FROM lbl GROUP BY cluster_id)
      SELECT f.cluster_id, min(f.doc_id)::BIGINT AS doc_id,
             mx.m AS n_tok
      FROM lbl f JOIN mx ON f.cluster_id = mx.cluster_id AND f.n_tok = mx.m
      GROUP BY f.cluster_id, mx.m
      ORDER BY f.cluster_id"""))

  /** Verified-pair similarity HISTOGRAM — the distribution a dedup
    * threshold is calibrated FROM: every banding-verified pair's true
    * Jaccard, binned at 100 bp over the verified range. Bimodal mass
    * near 1.0 = exact-ish re-posts (safe to drop); a fat shoulder at the
    * threshold = near-miss continuum where the threshold choice actually
    * changes the corpus. Pairs-sized aggregation over the shared cache
    * (never corpus-sized); bp quantization rides the already-hash-matched
    * round(jaccard, 4) values, so the bin edges are engine-exact. */
  val jaccardHistogram = Q(
    "dedup_jaccard_histogram",
    (s, dir) => PairsCache.get(s, dir)
      .select((round(col("jaccard") * 10000, 0).cast("long"))
        .as("bp"))
      .select(expr("bp div 100 * 100").as("bin_lo_bp"))
      .groupBy("bin_lo_bp")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bin_lo_bp"),
    Some(s"""$oraclePipeline
      SELECT (round(round(jaccard, 4) * 10000)::BIGINT // 100 * 100)
               AS bin_lo_bp,
             count(*)::BIGINT AS n_pairs
      FROM vp GROUP BY 1 ORDER BY bin_lo_bp"""))

  val ngramKeep = Q(
    "dedup_ngram_keep",
    (s, dir) => {
      val drop = NgramPairsCache.get(s, dir).select(col("doc_b").as("doc_id")).distinct()
      Tables.documents(s, dir).select("doc_id")
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    Some(s"""$oracleNgramPipeline
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_b FROM vp)
      ORDER BY doc_id"""))

  /** EXACT shingle-containment join — the ASYMMETRIC near-dup relation
    * Jaccard misses: a short document wholly contained in a longer one
    * (a quote, an excerpt, a chunk re-crawled inside its source page) has
    * C(A→B) = |Sh(A)∩Sh(B)| / |Sh(A)| ≈ 1 while J(A,B) is small, so a
    * Jaccard keep-list retains both and a pretrain corpus double-counts
    * the contained text. Same prefix-filter machinery as
    * [[ngramCandidates]], adapted to the one-sided threshold: if
    * C(A→B) ≥ t then B misses at most n − ⌈t·n⌉ of A's n shingles, so
    * among A's n − ⌈t·n⌉ + 1 globally-RAREST shingles at least one is in
    * B (pigeonhole) — joining just that prefix against the inverted
    * index finds every qualifying ORDERED pair, exact, never all-pairs.
    * Thresholds integer (C ≥ 0.9 ⟺ 10·inter ≥ 9·n_a); the reported
    * containment is one exact division. */
  private[graft] def containmentPairs(
      docs: DataFrame, tNum: Int = 9, tDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(docs)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val pref = sh.join(freq, "shingle")
      .withColumn("rk", row_number().over(byRarity))
      .join(cnt, "doc_id")
      .filter(col("rk") <= col("n") - expr(s"($tNum*n + ${tDen - 1}) div $tDen") + 1)
      .select("doc_id", "shingle")
    val cand = pref.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .filter(lit(tDen) * col("inter") >= lit(tNum) * col("na"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / col("na"), 4).as("containment"))
  }

  /** Per-JVM cache of the containment pair set (PairsCache pattern). */
  private object ContainmentCache {
    def get(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "containpairs", dir) {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        // plant contained docs: every 5th doc (>= 6 words) truncated to its
        // first ceil(2n/3) words - a sliding-shingle PREFIX is a strict
        // subset of the original's shingles, so C(trunc -> original) = 1.0
        val w = split(col("text"), " ")
        val planted = d.unionAll(
          d.filter(col("doc_id") % 5 === 0 && size(w) >= 6)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat_ws(" ",
                slice(w, lit(1),
                  greatest(lit(3), expr("2 * size(split(text, ' ')) div 3"))))
                .as("text")))
        containmentPairs(planted)
      }
  }


  /** Shared oracle chain for BOTH containment entries (planting →
    * shingles → rarity prefix → candidates → intersections) — one
    * definition, so a threshold or planting tweak cannot desynchronize
    * the pair and keep gates. */
  private val containmentOracleBase = s"""WITH planted AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               array_to_string(
                 (string_split(text, ' '))[1:greatest(3, 2*len(string_split(text, ' '))//3)],
                 ' ')
        FROM documents
        WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) >= 6),
      words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM planted),
      sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) >= $ShingleN
                    THEN array_to_string(w[i+1:i+$ShingleN], ' ')
                    ELSE array_to_string(w, ' ') END AS shingle
        FROM (SELECT doc_id, w,
                     unnest(range(0, greatest(len(w) - $ShingleN, 0) + 1)) AS i
              FROM words)),
      ccnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      pref AS (
        SELECT r.doc_id, r.shingle
        FROM (SELECT s.doc_id, s.shingle,
                     row_number() OVER (PARTITION BY s.doc_id
                                        ORDER BY f.df, s.shingle) AS rk
              FROM sh s JOIN freq f USING (shingle)) r
        JOIN ccnt c USING (doc_id)
        WHERE r.rk <= c.n - (9*c.n + 9) // 10 + 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN sh b ON b.shingle = a.shingle
                             AND a.doc_id <> b.doc_id),
      i AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY c.doc_a, c.doc_b)"""

  /** [[containmentPairs]] as a gated entry over the planted corpus: every
    * truncated twin must surface as (contained → container, 1.0), every
    * organic asymmetric overlap is verified exactly, and the DuckDB
    * oracle replays planting, prefix selection and verification 1:1. */
  val containmentPairsQ = Q(
    "dedup_containment_pairs",
    (s, dir) => ContainmentCache.get(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""
      ${containmentOracleBase}
      SELECT i.doc_a, i.doc_b, round(i.inter / ca.n, 4) AS containment
      FROM i JOIN ccnt ca ON ca.doc_id = i.doc_a
      WHERE 10*i.inter >= 9*ca.n
      ORDER BY doc_a, doc_b"""))

  /** Keep-list under containment: drop every doc contained in ANY other
    * doc — order-free (no greedy cascade: if A ⊂ B ⊂ C, both A and B
    * drop regardless of processing order), except MUTUAL containment
    * (equal shingle sets), where the smaller id survives — the same
    * first-wins convention as the other keep-lists. Runs over the same
    * planted corpus as the pairs entry: every truncated twin must drop,
    * each original must survive unless organically contained. */
  val containmentKeep = Q(
    "dedup_containment_keep",
    (s, dir) => {
      val p = ContainmentCache.get(s, dir).select("doc_a", "doc_b")
      val rev = p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
      val nonMutualDrop = p.join(rev, Seq("doc_a", "doc_b"), "left_anti")
        .select("doc_a")
      val mutualDrop = p.join(rev, Seq("doc_a", "doc_b"), "left_semi")
        .filter(col("doc_b") < col("doc_a")).select("doc_a")
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val w = split(col("text"), " ")
      val planted = d.select("doc_id").unionAll(
        d.filter(col("doc_id") % 5 === 0 && size(w) >= 6)
          .select((col("doc_id") + 100000).as("doc_id")))
      planted
        .join(nonMutualDrop.unionAll(mutualDrop).distinct()
          .withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    Some(s"""
      ${containmentOracleBase},
      vp AS (SELECT i.doc_a, i.doc_b
             FROM i JOIN ccnt ca ON ca.doc_id = i.doc_a
             WHERE 10*i.inter >= 9*ca.n),
      drop AS (
        SELECT DISTINCT doc_a FROM vp p
        WHERE p.doc_b < p.doc_a
           OR NOT EXISTS (SELECT 1 FROM vp q
                          WHERE q.doc_a = p.doc_b AND q.doc_b = p.doc_a))
      SELECT doc_id FROM planted
      WHERE doc_id NOT IN (SELECT doc_a FROM drop)
      ORDER BY doc_id"""))

  /** 64-bit SimHash of the token multiset. The per-token 64 bits are the
    * FIRST 8 BYTES OF md5(token) (big-endian) — md5 is present and
    * bit-identical in both Spark and DuckDB, so unlike a
    * MurmurHash-derived SimHash the whole sign-vote pipeline is
    * SQL-expressible and the pair set is hash-checkable cross-engine
    * (the oracle reproduces the votes nibble-by-nibble from the hex
    * digest). Vote tie (sum == 0) resolves to bit 0 on both sides. */
  private[graft] def simhash64(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](64)
    text.toLowerCase.split(" ").filter(_.nonEmpty).foreach { t =>
      val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf((t: String) => simhash64(if (t == null) "" else t))

  /** Oracle twin of [[simhash64]] + banding + Hamming verify. Bit m here is
    * MSB-first (m = 0 is the top bit of the digest's first hex char), i.e.
    * the Scala LSB index 63 − m — a pure relabeling that changes neither
    * votes, chunks-as-sets, nor Hamming distances. Fingerprints live as 16
    * nibble values; chunks are 4-nibble slices; Hamming is
    * Σ bit_count(xor(nibble_a, nibble_b)). */
  private val simhashOracle = s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      th AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
      bits AS (
        SELECT doc_id, m.m,
               ((strpos('0123456789abcdef', substr(h, m.m // 4 + 1, 1)) - 1)
                 >> (3 - m.m % 4)) & 1 AS bit
        FROM th, generate_series(0, 63) m(m)),
      votes AS (
        SELECT doc_id, m, CASE WHEN sum(2*bit - 1) > 0 THEN 1 ELSE 0 END AS fb
        FROM bits GROUP BY doc_id, m),
      fp AS (
        SELECT doc_id, m // 4 + 1 AS i,
               CAST(sum(fb << (3 - m % 4)) AS INT) AS nv
        FROM votes GROUP BY doc_id, m // 4),
      bands AS (
        SELECT doc_id, (i-1) // 4 AS band,
               sum(nv * CASE (i-1) % 4 WHEN 0 THEN 4096 WHEN 1 THEN 256
                                       WHEN 2 THEN 16 ELSE 1 END) AS chunk
        FROM fp GROUP BY doc_id, (i-1) // 4),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      ham AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(bit_count(xor(fa.nv, fb2.nv))) AS BIGINT) AS hamming
        FROM cand c
        JOIN fp fa ON fa.doc_id = c.doc_a
        JOIN fp fb2 ON fb2.doc_id = c.doc_b AND fb2.i = fa.i
        GROUP BY c.doc_a, c.doc_b)
      SELECT doc_a, doc_b, hamming FROM ham
      WHERE hamming <= 3 ORDER BY doc_a, doc_b"""

  /** SimHash near-dup pairs: banded on 4 x 16-bit chunks (a pair within
    * Hamming distance 3 must agree on at least one chunk), verified with
    * popcount of the XOR — bucketed, never all-pairs. Token-less docs are
    * excluded (their sign-vote fingerprint is vacuous, and excluding them
    * keeps the relation identical to the oracle, where they vanish at the
    * unnest). */
  val simhashPairs = Q(
    "dedup_simhash_pairs",
    (s, dir) => {
      val sig = Tables.documents(s, dir)
        .filter(size(filter(split(lower(col("text")), " "),
          t => t =!= lit(""))) > 0)
        .select(col("doc_id"), simhashUdf(col("text")).as("sig"))
      val banded = sig.select(
        col("doc_id"), col("sig"),
        explode(array((0 until 4).map(b => struct(
          lit(b).as("band"),
          shiftrightunsigned(col("sig"), 16 * b).bitwiseAND(lit(0xffffL)).as("chunk"))): _*)).as("bc"))
        .select(col("doc_id"), col("sig"),
          col("bc.band").as("band"), col("bc.chunk").as("chunk"))
      val pairs = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
        .distinct()
      pairs
        .withColumn("hamming",
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },
    Some(simhashOracle))

  /** Per-JVM bucket-table cache for the planted near-dup corpus: forest
    * built + corpus routed + index persisted ONCE per fixture dir — the
    * round-2 entry rebuilt the forest inside every execution (6.9 s, the
    * most expensive bench query). Same pattern as LshCache/IvfCache. */
  object NearDupCache {
    def buckets(s: SparkSession, dir: String, planted: DataFrame): DataFrame =
      LshForest.loadIndex(s, Scratch.cached("neardup", dir) { p =>
        LshForest.writeIndex(planted, LshForest.build(planted), p)
        p
      })
  }

  /** Target in-bucket occupancy for near-dup candidate generation and the
    * bit budget for splitting over-full buckets (2^12 = 4096-way worst
    * case — enough to re-bound a leaf that outgrew the forest's
    * sample-resolution by three orders of magnitude). */
  private[graft] val NearDupLeafCap = 16
  private[graft] val NearDupMaxExtraBits = 12

  /** splitmix64 finalizer — deterministic hash to 64 well-mixed bits. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `bits` deterministic random projections of the embedding, seeded per
    * (tree, bit); null when bits <= 0 (under-cap leaves — no work there).
    * Hoisted from [[refineBuckets]] so [[bucketCuts]]/[[assignSubKeys]]
    * compute bit-identical projections for the frozen-cut increment. */
  private[graft] def nearDupProjection(
      emb: Seq[Float], treeId: Int, bits: Int): Array[Double] =
    if (bits <= 0) null
    else {
      val out = new Array[Double](bits)
      var b = 0
      while (b < bits) {
        var s = 0.0
        var i = 0
        while (i < emb.length) {
          val h = mix64(treeId.toLong * 0x100000001b3L + b.toLong * 1000003L + i)
          // uniform in [-1, 1): top 53 hash bits as a double's mantissa
          s += emb(i) * ((h >>> 11).toDouble / (1L << 52).toDouble - 1.0)
          i += 1
        }
        out(b) = s
        b += 1
      }
      out
    }

  private lazy val nearDupProj =
    udf((emb: Seq[Float], treeId: Int, bits: Int) =>
      nearDupProjection(emb, treeId, bits))

  /** Occupancy-cap the bucket table before a pair join. The forest's leaf
    * resolution is bounded by its BUILD SAMPLE (LshForest.Options.sampleCap
    * = 64k): once the corpus outgrows the sample, true leaf occupancy
    * grows linearly with n (≈ maxNodeSize · n / sampleTotal) and an
    * in-bucket pair join turns quadratic in that occupancy — the round-8
    * verdict's watch item on dedup_embedding_cosine. This refinement
    * re-bounds it without touching the forest: count per-leaf occupancy
    * (an agg over the bounded leaf set — ≤ numTrees · sampleLeaves rows,
    * broadcastable), and for leaves above `cap` extend the bucket key with
    * ceil(log2(count/cap)) MEDIAN-SPLIT random-projection bits: bit b is
    * the side of the (tree, leaf, b)-local median of a deterministic
    * random projection, seeded per (tree, bit) so a pair split by bit b
    * in one tree can still co-locate in another. The median offset is the
    * load-bearing choice: leaf members already sit in a narrow cone (they
    * agree on ~log2(leaves) forest hyperplanes), so a random hyperplane
    * through the ORIGIN often leaves the whole cone on one side — measured
    * on the uniform probe corpus it left sub-buckets 2× over cap, and on
    * clustered real embeddings it degenerates entirely. Splitting at the
    * bucket's own median guarantees ~half the members per side no matter
    * how tight the cone. Candidates then stay O(n · cap · numTrees) —
    * linear in n.
    *
    * Correctness of the downstream oracle is untouched: IDENTICAL vectors
    * (the planted exact duplicates the entry is gated on) have identical
    * projections and so land on the same side of ANY median — even though
    * the approx-percentile cut value itself may vary run to run, the
    * planted pairs always co-locate, and the cos >= 0.999 verify filter
    * makes the emitted output independent of which extra candidates a
    * particular cut admitted. The irreducible case — a bucket over-full
    * because of a mass of bit-identical vectors — cannot be split by any
    * hyperplane (the median collapses onto the duplicated projection and
    * ties route together), but there the PAIR OUTPUT itself is quadratic
    * in the group size, which callers wanting survivors (not pairs)
    * should handle with a group-by on the full-vector key (dedup_exact)
    * instead. */
  private[graft] def refineBuckets(
      buckets: DataFrame, vectors: DataFrame,
      cap: Int = NearDupLeafCap, maxExtraBits: Int = NearDupMaxExtraBits,
      vecId: String = "vec_id"): DataFrame = {
    val counts = buckets.groupBy("tree_id", "leaf_id").count()
      .withColumn("extra_bits",
        least(lit(maxExtraBits),
          greatest(lit(0), ceil(log2(col("count") / lit(cap.toDouble))).cast("int"))))
      .select("tree_id", "leaf_id", "extra_bits")
    val withProj = buckets
      .join(vectors.select(col(vecId), col("embedding")), vecId)
      .join(broadcast(counts), Seq("tree_id", "leaf_id"))
      .withColumn("proj", nearDupProj(col("embedding"), col("tree_id"), col("extra_bits")))
    // Per-(tree, leaf, bit) median cuts — only over-full leaves' rows
    // reach this agg, and its output is one row per over-full leaf
    // (bounded by the forest's leaf set), so the join back broadcasts.
    val meds = withProj.filter(col("extra_bits") > 0)
      .select(col("tree_id"), col("leaf_id"),
        posexplode(col("proj")).as(Seq("b", "p")))
      .groupBy("tree_id", "leaf_id", "b")
      .agg(percentile_approx(col("p"), lit(0.5), lit(1000)).as("med"))
      .groupBy("tree_id", "leaf_id")
      .agg(sort_array(collect_list(struct(col("b"), col("med")))).as("bm"))
      .select(col("tree_id"), col("leaf_id"),
        transform(col("bm"), x => x.getField("med")).as("meds"))
    withProj.join(broadcast(meds), Seq("tree_id", "leaf_id"), "left")
      .select(col(vecId), col("tree_id"), col("leaf_id"),
        when(col("extra_bits") <= 0 || col("meds").isNull, lit(0))
          .otherwise(expr("""aggregate(
              transform(sequence(0, extra_bits - 1),
                b -> IF(element_at(proj, b + 1) >= element_at(meds, b + 1),
                        shiftleft(1, b), 0)),
              0, (acc, x) -> acc + x)"""))
          .as("sub_key"))
  }

  /** Frozen-cut factorization of [[refineBuckets]] for the INCREMENT
    * path: the per-leaf refinement table (tree_id, leaf_id, extra_bits,
    * meds) is computed from the BASE corpus once at build time, then
    * delta vectors are assigned against it FROZEN ([[assignSubKeys]]) —
    * the same frozen-quantizer pattern as the engine's IVF-PQ delta
    * assign (ZebraEngine.add). Identical vectors get identical
    * projections and so the same side of any frozen median, which is
    * what keeps the planted increment oracle-checkable; occupancy drift
    * past the frozen cuts is the retrain trigger's job (the IVF-PQ
    * staleness pattern), not this op's. */
  private[graft] def bucketCuts(
      buckets: DataFrame, vectors: DataFrame,
      cap: Int = NearDupLeafCap, maxExtraBits: Int = NearDupMaxExtraBits,
      vecId: String = "vec_id"): DataFrame = {
    val counts = buckets.groupBy("tree_id", "leaf_id").count()
      .withColumn("extra_bits",
        least(lit(maxExtraBits),
          greatest(lit(0), ceil(log2(col("count") / lit(cap.toDouble))).cast("int"))))
      .select("tree_id", "leaf_id", "extra_bits")
    val overProj = buckets
      .join(vectors.select(col(vecId), col("embedding")), vecId)
      .join(broadcast(counts.filter(col("extra_bits") > 0)),
        Seq("tree_id", "leaf_id"))
      .withColumn("proj",
        nearDupProj(col("embedding"), col("tree_id"), col("extra_bits")))
    val meds = overProj
      .select(col("tree_id"), col("leaf_id"),
        posexplode(col("proj")).as(Seq("b", "p")))
      .groupBy("tree_id", "leaf_id", "b")
      .agg(percentile_approx(col("p"), lit(0.5), lit(1000)).as("med"))
      .groupBy("tree_id", "leaf_id")
      .agg(sort_array(collect_list(struct(col("b"), col("med")))).as("bm"))
      .select(col("tree_id"), col("leaf_id"),
        transform(col("bm"), x => x.getField("med")).as("meds"))
    counts.join(broadcast(meds), Seq("tree_id", "leaf_id"), "left")
  }

  /** Sub-key assignment of routed bucket rows against a frozen cuts
    * table. A leaf that was empty at build time has no cuts row: the
    * left join routes its members to sub_key 0 (they can only meet other
    * post-build arrivals there — exactly a fresh leaf's semantics). The
    * cuts table is bounded by the forest's leaf set, so the join
    * broadcasts at any corpus size. */
  private[graft] def assignSubKeys(
      buckets: DataFrame, vectors: DataFrame, cuts: DataFrame,
      vecId: String = "vec_id"): DataFrame =
    buckets
      .join(vectors.select(col(vecId), col("embedding")), vecId)
      .join(broadcast(cuts), Seq("tree_id", "leaf_id"), "left")
      .withColumn("eb", coalesce(col("extra_bits"), lit(0)))
      .withColumn("proj", nearDupProj(col("embedding"), col("tree_id"), col("eb")))
      .select(col(vecId), col("tree_id"), col("leaf_id"),
        when(col("eb") <= 0 || col("meds").isNull, lit(0))
          .otherwise(expr("""aggregate(
              transform(sequence(0, eb - 1),
                b -> IF(element_at(proj, b + 1) >= element_at(meds, b + 1),
                        shiftleft(1, b), 0)),
              0, (acc, x) -> acc + x)"""))
          .as("sub_key"))

  /** Delta-involving verified pair set over sub-keyed bucket tables, the
    * tail of `dedup_embedding_incremental`: delta rows join the full keyed
    * table on the bucket, ordered-dedup'd, cosine-verified at the near-dup
    * threshold. `vectors` must cover both sides (base ∪ delta). */
  private def embeddingDeltaPairs(
      baseKeyed: DataFrame, deltaKeyed: DataFrame,
      vectors: DataFrame): DataFrame = {
    val all = baseKeyed.unionAll(deltaKeyed)
    val pairs = deltaKeyed.as("d")
      .join(all.as("a"),
        col("d.tree_id") === col("a.tree_id") &&
          col("d.leaf_id") === col("a.leaf_id") &&
          col("d.sub_key") === col("a.sub_key") &&
          col("a.vec_id") =!= col("d.vec_id"))
      .select(
        least(col("a.vec_id"), col("d.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("d.vec_id")).as("vec_b"))
      .distinct()
    val v = vectors
      .select(col("vec_id"), Distances.asDouble(col("embedding")).as("emb"))
    pairs
      .join(v.as("va").select(col("vec_id").as("vec_a"), col("emb").as("ea")), "vec_a")
      .join(v.as("vb").select(col("vec_id").as("vec_b"), col("emb").as("eb")), "vec_b")
      .withColumn("cos_sim", round(Distances.cosineSim(col("ea"), col("eb")), 4))
      .filter(col("cos_sim") >= 0.999)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** Collect a [[bucketCuts]] table into the driver-side map the
    * streaming router broadcasts — bounded by the forest's leaf set. */
  private[graft] def cutsToMap(
      cuts: DataFrame): Map[(Int, Int), (Int, Array[Double])] =
    cuts.collect().map { r =>
      ((r.getInt(0), r.getInt(1)),
        (r.getInt(2), Option(r.getSeq[Double](3)).map(_.toArray).orNull))
    }.toMap

  /** Embedding-space near-dup via the LSH forest: pairs co-located in a
    * bucket (occupancy-capped via [[refineBuckets]]), verified by cosine.
    * Exact duplicates are planted (shifted-id union), and identical
    * vectors route AND refine identically, so the expected output is
    * exactly the planted pairs — which makes this RNG-built path
    * ORACLE-checkable. */
  val embeddingNearDup = Q(
    "dedup_embedding_cosine",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.unionAll(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val buckets = refineBuckets(NearDupCache.buckets(s, dir, planted), planted)
      val pairs = buckets.as("a")
        .join(buckets.as("b"),
          col("a.tree_id") === col("b.tree_id") &&
            col("a.leaf_id") === col("b.leaf_id") &&
            col("a.sub_key") === col("b.sub_key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      val v = planted.select(col("vec_id"), Distances.asDouble(col("embedding")).as("emb"))
      pairs
        .join(v.as("va").select(col("vec_id").as("vec_a"), col("emb").as("ea")), "vec_a")
        .join(v.as("vb").select(col("vec_id").as("vec_b"), col("emb").as("eb")), "vec_b")
        .withColumn("cos_sim", round(Distances.cosineSim(col("ea"), col("eb")), 4))
        .filter(col("cos_sim") >= 0.999)
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    },
    Some("""
      SELECT vec_id AS vec_a, vec_id + 100000 AS vec_b, 1.0 AS cos_sim
      FROM embeddings ORDER BY vec_a"""))

  /** Frozen base-index artifacts for the embedding increment — what a
    * production daily loop carries forward from the previous day: the
    * forest model built on the BASE corpus (per-JVM; the driver-side
    * build is sample-bounded), the per-leaf refinement cuts, and the
    * sub-keyed base bucket table (both parquet via [[Scratch.parquet]]).
    * The entry's measured cost is then the delta work only: route +
    * frozen-cut assign + bucket join + cosine verify. */
  private object EmbBaseIndexCache {
    private val models =
      scala.collection.concurrent.TrieMap[String, LshForest.ForestModel]()
    def model(dir: String, base: DataFrame): LshForest.ForestModel =
      models.getOrElseUpdate(dir, LshForest.build(base))
    def cuts(s: SparkSession, dir: String, base: DataFrame): DataFrame =
      Scratch.parquet(s, "embcuts", dir)(
        bucketCuts(LshForest.bucketTable(base, model(dir, base)), base))
    def keyedBase(s: SparkSession, dir: String, base: DataFrame): DataFrame =
      Scratch.parquet(s, "embbase", dir)(
        assignSubKeys(LshForest.bucketTable(base, model(dir, base)), base,
          cuts(s, dir, base)))
  }

  /** The embedding increment: delta vectors routed through the FROZEN
    * base forest and assigned against the frozen cuts, then only
    * delta-involving co-located pairs verified by cosine — cost
    * O(|delta| · occupancy), never a corpus re-route (the deleted
    * DedupScaleProbe's `embdelta` leg measured wall tracking |delta| under
    * a fixed base; PROBES.md keeps its figures).
    * Delta = the same planted shifted-id re-crawl as
    * [[embeddingNearDup]]: identical vectors route identically through
    * the frozen forest AND refine identically against frozen medians, so
    * the expected delta-involving pair set is exactly the planted twins —
    * which makes this RNG-built path ORACLE-checkable, and proves the
    * increment finds precisely what the full recompute
    * (dedup_embedding_cosine) finds on those pairs. Completes the
    * incremental family: minhash pairs (dedup_minhash_incremental) +
    * components (dedup_cluster_incremental) + embeddings (this). */
  val embeddingIncremental = Q(
    "dedup_embedding_incremental",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val delta =
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val m = EmbBaseIndexCache.model(dir, e)
      val deltaKeyed = assignSubKeys(
        LshForest.bucketTable(delta, m), delta,
        EmbBaseIndexCache.cuts(s, dir, e))
      embeddingDeltaPairs(EmbBaseIndexCache.keyedBase(s, dir, e), deltaKeyed,
        e.unionAll(delta))
        .orderBy("vec_a", "vec_b")
    },
    Some("""
      SELECT vec_id AS vec_a, vec_id + 100000 AS vec_b, 1.0 AS cos_sim
      FROM embeddings ORDER BY vec_a"""))

  /** Duplicate clusters: connected components over the EXACT n-gram
    * near-dup pair graph (NgramPairsCache — the provably complete pair
    * set), labeling every paired doc with the min doc_id reachable from it.
    * Pairs alone can't drop documents consistently once duplicates chain
    * (a~b, b~c without a~c); the component id is the canonical survivor.
    * Spark side: O(diameter) min-label-propagation rounds
    * (`ops/ConnectedComponents.scala`); oracle: recursive transitive
    * closure to the same min-reachable label — independent derivations of
    * the same fixpoint. */
  val clusterCc = Q(
    "dedup_cluster_cc",
    (s, dir) => {
      val edges = NgramPairsCache.get(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.ops.ConnectedComponents.components(edges)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""${oracleNgramPipeline.replaceFirst("WITH", "WITH RECURSIVE")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM vp
              UNION SELECT doc_b, doc_a FROM vp
              UNION SELECT doc_a, doc_a FROM vp
              UNION SELECT doc_b, doc_b FROM vp),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b)
      SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id"""))

  /** [[clusterCc]] through the alternating large-star/small-star
    * contraction ([[graft.ops.ConnectedComponents.componentsLargeSmallStar]]
    * — Kiveris et al. SoCC'14) instead of min-label propagation: O(log n)
    * rounds regardless of component DIAMETER, where min-label pays
    * O(diameter) (ConnectedComponentsSpec plants a 64-path min-label
    * provably cannot finish at its round budget). Same oracle as
    * dedup_cluster_cc, so the hash gate proves the two algorithms land on
    * the identical fixpoint over the real near-dup pair graph. */
  val clusterCcStar = Q(
    "dedup_cluster_cc_star",
    (s, dir) => {
      val edges = NgramPairsCache.get(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.ops.ConnectedComponents.componentsLargeSmallStar(edges)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""${oracleNgramPipeline.replaceFirst("WITH", "WITH RECURSIVE")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM vp
              UNION SELECT doc_b, doc_a FROM vp
              UNION SELECT doc_a, doc_a FROM vp
              UNION SELECT doc_b, doc_b FROM vp),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b)
      SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id"""))

  /** SOFT dedup — down-WEIGHT duplicates instead of dropping them (the
    * SoftDeDup move, He et al. 2024: hard removal throws away the signal
    * that a document's content was independently published many times;
    * reweighting keeps every copy in the corpus but makes each duplicate
    * CLUSTER contribute one document's worth of sampling mass). Every doc
    * gets its near-dup cluster's label (singletons label themselves),
    * the cluster size, and an integer basis-point sampling weight
    * `10000 div cluster_size` — a trainer samples docs proportional to
    * weight_bp and sees deduplicated data without losing any document.
    * Cost over the shared pair cache: one components fixpoint on the
    * PAIR graph (pairs-sized, tiny next to the corpus), one left join to
    * label all docs, one cluster-sized count — nothing corpus-quadratic.
    * The oracle replays closure, labeling, sizing and the integer weight,
    * so the whole reweighting is inside the hash gate. */
  /** Every doc labeled with its near-dup cluster (components over the
    * shared exact pair graph, singletons self-labeled) plus the per-
    * cluster size table — the shared substrate of [[softWeights]] and
    * [[dedupProfile]]. */
  private def clusterLabelsAndSizes(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val edges = NgramPairsCache.get(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = graft.ops.ConnectedComponents.components(edges)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    val lab = Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = lab.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    (lab, sizes)
  }

  val softWeights = Q(
    "dedup_soft_weights",
    (s, dir) => {
      val (lab, sizes) = clusterLabelsAndSizes(s, dir)
      lab.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          expr("10000 div cluster_size").as("weight_bp"))
        .orderBy("doc_id")
    },
    Some(s"""${oracleNgramPipeline.replaceFirst("WITH", "WITH RECURSIVE")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM vp
              UNION SELECT doc_b, doc_a FROM vp
              UNION SELECT doc_a, doc_a FROM vp
              UNION SELECT doc_b, doc_b FROM vp),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b),
      lab0 AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
               FROM reach GROUP BY a),
      lab AS (SELECT d.doc_id,
                     coalesce(l.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN lab0 l USING (doc_id)),
      sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
             FROM lab GROUP BY cluster_id)
      SELECT doc_id, cluster_id, cluster_size,
             (10000 // cluster_size)::BIGINT AS weight_bp
      FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id"""))

  /** Corpus DUPLICATION profile — the diagnostic a curation run reads
    * before choosing drop vs reweight: the cluster-SIZE histogram
    * (how many near-dup clusters of each size, how many docs they hold)
    * over the same labeling as [[softWeights]]. `n_docs div n_clusters ==
    * cluster_size` by construction; the corpus duplication factor is
    * sum(n_docs) / sum(n_clusters). Cost on top of the shared pair cache:
    * the components fixpoint + two cluster-sized aggregates — the output
    * is distinct-sizes-sized (tiny at any scale). */
  val dedupProfile = Q(
    "dedup_profile",
    (s, dir) => {
      val (_, sizes) = clusterLabelsAndSizes(s, dir)
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },
    Some(s"""${oracleNgramPipeline.replaceFirst("WITH", "WITH RECURSIVE")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM vp
              UNION SELECT doc_b, doc_a FROM vp
              UNION SELECT doc_a, doc_a FROM vp
              UNION SELECT doc_b, doc_b FROM vp),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b),
      lab0 AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
               FROM reach GROUP BY a),
      lab AS (SELECT d.doc_id,
                     coalesce(l.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN lab0 l USING (doc_id)),
      sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
             FROM lab GROUP BY cluster_id)
      SELECT cluster_size, count(*)::BIGINT AS n_clusters,
             (cluster_size * count(*))::BIGINT AS n_docs
      FROM sz GROUP BY cluster_size ORDER BY cluster_size"""))

  /** SPLIT-LEAKAGE audit — the QA gate a pretrain pipeline runs right
    * after train/val/test assignment: a near-duplicate pair that CROSSES
    * the split boundary leaks evaluation data into training (the eval
    * doc's twin is trained on), which inflates eval scores exactly the
    * way benchmark contamination does. Composes the md5-bucketed split
    * (`split_train_val`'s assignment, growth-stable) with the EXACT
    * prefix-filtered near-dup pair set (provably complete, so a clean
    * audit is a guarantee, not a sample): every J ≥ 0.8 pair whose
    * endpoints land in different splits, rolled up per unordered split
    * pair with an example doc for triage. Cost = the pair set (shared
    * cache) + two broadcast-sized split joins. */
  val splitLeakageAudit = Q(
    "split_leakage_audit",
    (s, dir) => {
      val bucket =
        substring(md5(concat(lit("v"), col("doc_id").cast("string"))), 1, 2)
      val splits = Tables.documents(s, dir).select(col("doc_id"),
        when(bucket < "cc", "train").when(bucket < "e6", "val")
          .otherwise("test").as("split"))
      NgramPairsCache.get(s, dir).select("doc_a", "doc_b")
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")),
          "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")),
          "doc_b")
        .filter(col("sa") =!= col("sb"))
        .groupBy(least(col("sa"), col("sb")).as("split_x"),
          greatest(col("sa"), col("sb")).as("split_y"))
        .agg(count(lit(1)).as("n_leaked_pairs"),
          min("doc_a").as("example_doc_a"))
        .orderBy("split_x", "split_y")
    },
    Some(s"""$oracleNgramPipeline,
      sp AS (SELECT doc_id,
                    CASE WHEN substr(md5('v' || doc_id), 1, 2) < 'cc' THEN 'train'
                         WHEN substr(md5('v' || doc_id), 1, 2) < 'e6' THEN 'val'
                         ELSE 'test' END AS split
             FROM documents),
      leaks AS (
        SELECT least(a.split, b.split) AS split_x,
               greatest(a.split, b.split) AS split_y,
               p.doc_a
        FROM vp p
        JOIN sp a ON a.doc_id = p.doc_a
        JOIN sp b ON b.doc_id = p.doc_b
        WHERE a.split <> b.split)
      SELECT split_x, split_y, count(*)::BIGINT AS n_leaked_pairs,
             min(doc_a)::BIGINT AS example_doc_a
      FROM leaks GROUP BY split_x, split_y
      ORDER BY split_x, split_y"""))

  /** Deterministic random-negative sampling for contrastive training: per
    * anchor doc, 3 negatives drawn from 5 affine-derived candidate slots,
    * excluding self and every verified near-duplicate (a near-dup used as
    * a "negative" poisons a contrastive objective — the exclusion join is
    * the point of the operator; the kNN join covers the HARD-negative
    * side). All map-side except the duplication-proportional anti-join;
    * the slot window partitions by anchor over <= 5 rows. The oracle
    * re-derives the near-dup set through the prefix-filter pipeline. */
  val sampleNegatives = Q(
    "sample_negatives",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select("doc_id")
      val n = docs.count()
      val slots = Seq((1, 31L, 7L), (2, 17L, 3L), (3, 13L, 11L),
        (4, 37L, 19L), (5, 41L, 23L))
      val cands = docs.select(col("doc_id"),
        explode(array(slots.map { case (j, p, q) =>
          struct(lit(j).as("j"), ((col("doc_id") * p + q) % n).as("c"))
        }: _*)).as("t"))
        .select(col("doc_id"), col("t.j").as("j"), col("t.c").as("c"))
      val pairs = NgramPairsCache.get(s, dir).select("doc_a", "doc_b")
      val excl = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("c"))
        .unionAll(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("c")))
      val w = Window.partitionBy("doc_id").orderBy("j")
      cands.filter(col("c") =!= col("doc_id"))
        .join(excl, Seq("doc_id", "c"), "left_anti")
        .withColumn("slot", row_number().over(w).cast("long"))
        .filter(col("slot") <= 3)
        .select(col("doc_id"), col("c").as("neg_id"), col("slot"))
        .orderBy("doc_id", "slot")
    },
    Some(s"""$oracleNgramPipeline,
      nn AS (SELECT count(*) AS n FROM documents),
      negcand AS (SELECT d.doc_id, t.j, (d.doc_id * t.p + t.q) % (SELECT n FROM nn) AS c
               FROM documents d,
                    (VALUES (1, 31, 7), (2, 17, 3), (3, 13, 11),
                            (4, 37, 19), (5, 41, 23)) t(j, p, q)),
      ok AS (SELECT doc_id, j, c FROM negcand
             WHERE c <> doc_id
               AND NOT EXISTS (SELECT 1 FROM vp
                               WHERE (vp.doc_a = negcand.doc_id AND vp.doc_b = negcand.c)
                                  OR (vp.doc_a = negcand.c AND vp.doc_b = negcand.doc_id)))
      SELECT doc_id, neg_id, slot FROM (
        SELECT doc_id, c AS neg_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY j)::BIGINT AS slot
        FROM ok)
      WHERE slot <= 3 ORDER BY doc_id, slot"""))

  /** SemDeDup (Abbas et al. 2023): k-means-partition the md5-count
    * embedding space, then near-dup scan WITHIN clusters only —
    * O(n²/k) instead of all-pairs, every step integer-exact so the
    * DuckDB oracle replays clustering AND pair decisions bit-for-bit
    * ([[graft.ops.SemDedup]]). τ = 9/10; k = 4 keeps the unrolled-CTE
    * oracle tractable (production sizing: k grows with n — scaladoc). */
  private val semTau = (9L, 10L)

  private def md5Vectors(s: SparkSession, dir: String): DataFrame =
    EmbedQueries.md5Vectors(s, dir)

  /** Per-JVM cache of the within-cluster pair scan (same pattern as
    * NearDupCache): the k-means fit + pair verify runs once per fixture
    * dir; both the pairs and keep entries read the cached parquet. */
  private object SemPairsCache {
    def pairs(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "sempairs", dir)(
        graft.ops.SemDedup.dupPairsAssigned(md5Vectors(s, dir),
          EmbedQueries.KmAssignCache.assign(s, dir),
          tauNum = semTau._1, tauDen = semTau._2))
  }


  private def semOracle(select: String) = s"""${EmbedQueries.sparseSp},
      ${graft.ops.KMeansInt.oracleSql(k = 4, iters = 3, dim = 32)},
      ${graft.ops.SemDedup.pairsOracleSql(semTau._1, semTau._2)}
      $select"""

  val semanticPairs = Q(
    "dedup_semantic_pairs",
    (s, dir) => SemPairsCache.pairs(s, dir).orderBy("doc_a", "doc_b"),
    Some(semOracle("""
      SELECT doc_a, doc_b, cluster::BIGINT AS cluster, dot::BIGINT AS dot,
             n2_a::BIGINT AS n2_a, n2_b::BIGINT AS n2_b
      FROM sem_pairs ORDER BY doc_a, doc_b""")))

  val semanticKeep = Q(
    "dedup_semantic_keep",
    (s, dir) => {
      val pruned = SemPairsCache.pairs(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
      md5Vectors(s, dir).select(col("doc_id"))
        .join(pruned, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    Some(semOracle("""
      SELECT doc_id FROM (SELECT DISTINCT doc_id FROM sp)
      WHERE doc_id NOT IN (SELECT doc_b FROM sem_pairs)
      ORDER BY doc_id""")))

  /** A REAL micro-batch streaming dedup in the correctness gate (the
    * dedup analogue of stream_hourly_exec): the documents table is
    * planted with full-corpus duplicates under shifted ids, replayed
    * through an in-memory stream in 4 doc_id-ordered chunks — so every
    * planted copy arrives in a LATER micro-batch than its original and must be
    * dropped by cross-batch state, not intra-batch distinct. The append
    * sink's surviving rows are projected to content-functional columns
    * (digest, length) because which doc_id survives an intra-batch
    * organic duplicate race is not deterministic — the batch
    * dedup_exact_docs entry gates min-id attribution. Event times are
    * derived from the original doc_id so original and copy share a
    * timestamp and the 7-day watermark horizon spans the whole replay
    * (nothing expires mid-run; expiry semantics are gated in
    * StreamingSpec). */
  val streamDedupExec = Q(
    "stream_dedup_exec",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.unionAll(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val fed = planted
        .select(
          // +1e6 s: a row stamped exactly at epoch 0 is "late" against
          // Spark's initial watermark (also 0) and silently dropped
          timestamp_micros((col("doc_id") % 100000 + 1000000L) * 1000000L)
            .as("ts"),
          col("doc_id"), col("text"))
        .as[(java.sql.Timestamp, Long, String)]
      val rows = StreamFeed.collectCapped(fed, "stream_dedup_exec")
        .sortBy(_._2)
      val run = StreamFeed.replay(s, "stream_dedup_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps
          .dedupByContentStream(
            in.toDF("ts", "doc_id", "text"), lateness = "7 days")
          .select(col("content_md5"), length(col("text")).as("n_chars"))
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      s.table(run.sink)
        .select(col("content_md5"), col("n_chars").cast("long").as("n_chars"))
        .orderBy("content_md5")
    },
    Some("""
      SELECT DISTINCT md5(text) AS content_md5,
             length(text)::BIGINT AS n_chars
      FROM documents ORDER BY content_md5"""))

  /** The planted-twin near-dup replay gate for one signature `family`
    * of [[graft.streaming.StreamOps.nearDupPairsStream]]: every 7th
    * document gets a one-word-appended twin under a +100000 id — later
    * event time, later micro-batch — so the banded-signature state must
    * pair each twin with an original from an EARLIER batch. The replay is
    * doc_id-ordered and event times increase with doc_id, so the stream's
    * (earlier, later) pair orientation equals the oracle's doc_a < doc_b,
    * and the whole estimate cascade (signature -> bands -> bucket
    * candidates -> agreement count) is replayed verbatim in DuckDB, with
    * `sigCtes` defining the family's `mh` and `bands` — the streaming
    * RUNTIME lands on the same hash as the declarative pipeline. n_agree
    * >= 13 of 16 perms is the est-Jaccard ~0.81 threshold (the stream
    * holds signatures, never text — the true-Jaccard verify is the batch
    * entry's job, the documented hand-off). */
  private def streamNearDupGate(name: String, family: String, sigCtes: String) = Q(
    name,
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.unionAll(
        docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" zzztwin")).as("text")))
      val rows = StreamFeed.collectCapped(planted
        .select(
          // +1e6 s base: epoch-0 rows are "late" vs the initial watermark
          timestamp_micros((col("doc_id") + 1000000L) * 1000000L).as("ts"),
          col("doc_id"), col("text"))
        .as[(java.sql.Timestamp, Long, String)], name)
        .sortBy(_._2)
      // drop observability: ring evictions from this run surface in the
      // QUALITY artifact via StreamDropStats (expected 0 on the fixture)
      val drops = s.sparkContext.longAccumulator(s"${name}_drops")
      val run = StreamFeed.replay(s, name, 8,
          StreamFeed.batches(rows, 4), rocksDb = true) { (in, run) =>
        graft.streaming.StreamOps
          .nearDupPairsStream(in.toDF("ts", "doc_id", "text"),
            lateness = "7 days", family = family, dropCounter = Some(drops))
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      graft.streaming.StreamDropStats.record(name, drops.value)
      s.table(run.sink)
        .select(col("doc_a"), col("doc_b"), col("n_agree").cast("long").as("n_agree"))
        .distinct().orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH docs AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || ' zzztwin'
        FROM documents WHERE doc_id % 7 = 0),
      words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM docs),
      sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) >= $ShingleN
                    THEN array_to_string(w[i+1:i+$ShingleN], ' ')
                    ELSE array_to_string(w, ' ') END AS shingle
        FROM (SELECT doc_id, w,
                     unnest(range(0, greatest(len(w) - $ShingleN, 0) + 1)) AS i
              FROM words)),
$sigCtes,
      cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id
                    AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id),
      agree AS (
        SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_agree
        FROM cand c
        JOIN mh a ON a.doc_id = c.doc_a
        JOIN mh b ON b.doc_id = c.doc_b AND b.j = a.j AND b.mh = a.mh
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_agree FROM agree WHERE n_agree >= 13
      ORDER BY doc_a, doc_b"""))

  /** Streaming NEAR-dup in the correctness gate (the minhash sibling of
    * stream_dedup_exec, which only catches byte-identical text), under
    * the md5 signature family: 16 digests per shingle. */
  val streamNearDupExec = streamNearDupGate("stream_neardup_exec", "md5", s"""
      mh AS MATERIALIZED (
        SELECT doc_id, p.j, min(md5(p.j::VARCHAR || '|' || shingle)) AS mh
        FROM sh, generate_series(1, $Perms) p(j)
        GROUP BY doc_id, p.j),
      bands AS MATERIALIZED (
        SELECT doc_id, CAST((j-1) // $BandRows AS INT) AS band_id,
               md5(string_agg(mh, '' ORDER BY j)) AS band_hash
        FROM mh GROUP BY doc_id, CAST((j-1) // $BandRows AS INT))""")

  /** [[streamNearDupExec]] under the affine signature family — the same
    * planted-twin replay and micro-batch state machine, but the signature
    * pass spends one digest per distinct shingle instead of 16
    * ([[graft.ops.Minhash.signatureAffineUdf]]). The DuckDB oracle replays
    * the affine cascade numerically (hsh → mh → comma-joined bands →
    * bucket candidates → per-permutation agreement), proving the cheap
    * kernel's STREAMING runtime lands on the same hash as the declarative
    * pipeline. */
  val streamNearDupFastExec = streamNearDupGate(
    "stream_neardup_fast_exec", "affine", affineSigCtes("MATERIALIZED"))

  /** [[graft.streaming.StreamOps.embNearDupStream]] under REAL micro-batch
    * execution — the vector-space member of the streaming dedup set
    * (content, minhash×2, clusters, now embeddings). The frozen base
    * forest + cuts come from [[EmbBaseIndexCache]] (the same previous-day
    * artifacts the batch increment serves from); the planted corpus
    * replays as 4 micro-batches ordered by vec_id, so every twin arrives
    * batches after its base vector and the pair emission crosses real
    * state boundaries. Identical vectors route and refine identically
    * against the frozen index, so the expected pair set is exactly the
    * planted twins at cos_1e4 = 10000 — hash-exact. */
  val streamEmbDedupExec = Q(
    "stream_embdedup_exec",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val model = EmbBaseIndexCache.model(dir, e)
      val cuts = cutsToMap(EmbBaseIndexCache.cuts(s, dir, e))
      val rows = StreamFeed.collectCapped(e.unionAll(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        .select(
          timestamp_micros((col("vec_id") + 1000000L) * 1000000L).as("ts"),
          col("vec_id"), col("embedding"))
        .as[(java.sql.Timestamp, Long, Seq[Float])], "stream_embdedup_exec")
        .sortBy(_._2)
      val drops = s.sparkContext.longAccumulator("stream_embdedup_exec_drops")
      val run = StreamFeed.replay(s, "stream_embdedup_exec", 8,
          StreamFeed.batches(rows, 4), rocksDb = true) { (in, run) =>
        graft.streaming.StreamOps
          .embNearDupStream(in.toDF("ts", "vec_id", "embedding"),
            model, cuts, dropCounter = Some(drops))
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      graft.streaming.StreamDropStats.record("stream_embdedup_exec", drops.value)
      s.table(run.sink)
        .select(col("vec_a"), col("vec_b"),
          col("cos_1e4").cast("long").as("cos_1e4"))
        .distinct().orderBy("vec_a", "vec_b")
    },
    Some("""
      SELECT vec_id AS vec_a, vec_id + 100000 AS vec_b,
             10000::BIGINT AS cos_1e4
      FROM embeddings ORDER BY vec_a"""))

  /** [[graft.streaming.StreamOps.decontaminateStream]] under REAL
    * micro-batch execution — filter-at-ingest decontamination: the
    * corpus streams in 4 chunks against the SAME planted benchmark as
    * `text_decontaminate_fuzzy`, per-doc matches aggregate batch-side,
    * and the result must land on the batch entry's exact oracle hash
    * (round(max(j)) = max(round(j)) by monotonicity, so the two
    * rounding orders agree). The op is stateless, so unlike the other
    * stream gates there is no cross-batch state to exercise — what the
    * gate proves is kernel parity: the scala-side shingle/signature/
    * band path equals the batch UDF + DuckDB replay byte for byte. */
  val streamDecontamExec = Q(
    "stream_decontam_exec",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzeval")).as("text"))
        .as[(Long, String)].collect().toSeq
      val rows = StreamFeed
        .collectCapped(docs.as[(Long, String)], "stream_decontam_exec")
        .sortBy(_._1)
      val run = StreamFeed.replay(s, "stream_decontam_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps
          .decontaminateStream(in.toDF("doc_id", "text"), bench)
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      s.table(run.sink)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bench_matches"),
          round(max("jaccard"), 4).as("max_jaccard"))
        .orderBy("doc_id")
    },
    decontaminateFuzzy.oracle)

  def qs: Seq[Q] = Seq(
    dedupExactDocs, minhashPairs, minhashPairsFast, sourceMatrix,
    decontaminateFuzzy,
    minhashIncremental, minhashKeep,
    ngramJaccard, ngramKeep, containmentPairsQ, containmentKeep,
    clusterKeepBest, jaccardHistogram,
    simhashPairs, embeddingNearDup, embeddingIncremental, clusterCc, clusterCcStar,
    clusterIncremental, softWeights, dedupProfile, splitLeakageAudit,
    sampleNegatives,
    semanticPairs, semanticKeep, streamDedupExec, streamNearDupExec,
    streamNearDupFastExec, streamClusterExec, streamCrawlDedupExec,
    streamEmbDedupExec, streamDecontamExec)
}
