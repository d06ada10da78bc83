package graft.catalog

import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.{Scratch, Tables}
import graft.engine.{EngineConfig, ZebraEngine}

/** CRUD-as-table-rewrite surface (SURVEY.md §2.1 I9–I11, §2.2 D6/D7): the
  * reference mutates its LSM store per id; on Spark these are single-plan
  * rewrites — anti-join for remove, bit-exact group-by for dedup. Both use
  * the *intended* semantics, not the reference's root-leaf-only prune bug
  * (lsh.rs:487, documented in SURVEY.md §7.5).
  */
object EngineQueries {

  /** I10/D7 exact dedup, "first-inserted wins": the fixture has no duplicate
    * vectors, so the query plants them (UNION ALL with shifted ids) and keeps
    * min(id) per bit-identical embedding — the UUIDv7-ordering semantics of
    * the reference (lsh.rs:270-288). */
  val dedupExact = Q(
    "dedup_exact",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val dup = e.unionAll(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      // Scale-safe grouping key: xxhash64 of the embedding (8 bytes shuffled
      // per row), not the raw 64-float array — the bit-exact analogue of the
      // reference's `to_bits` canonicalization (lsh.rs:279).
      dup.groupBy(xxhash64(col("embedding")).as("emb_hash"))
        .agg(min("vec_id").as("vec_id"))
        .select("vec_id")
        .orderBy("vec_id")
    },
    Some("""
      WITH dup AS (SELECT vec_id, embedding FROM embeddings
                   UNION ALL
                   SELECT vec_id + 100000, embedding FROM embeddings)
      SELECT min(vec_id) AS vec_id
      FROM dup
      GROUP BY embedding
      ORDER BY vec_id"""))

  /** I9/D6 remove: left-anti join of the vectors table against the id set
    * (here: every 7th id), replacing the reference's per-id leaf filtering
    * loop (lsh.rs:473-503). */
  val removeAntiJoin = Q(
    "remove_anti_join",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val toRemove = e.filter(col("vec_id") % 7 === 0).select("vec_id")
      e.join(toRemove, Seq("vec_id"), "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
    Some("""
      SELECT vec_id, label
      FROM embeddings
      WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0)
      ORDER BY vec_id"""))

  /** Per-JVM engine INSTANCE over the fixture: created + loaded once
    * (read-only afterwards, so the catalog entry stays idempotent). The
    * instance — not just the directory — is cached, because the model
    * deserialization stamp-cache and the forest broadcast cache both key on
    * the instance/model identity: a fresh `open` per query would reload and
    * re-broadcast the model on every execution. */
  object EngineCache {
    /** The fixture embeddings inserted into an engine of `kind`, with its
      * index built when `indexed`. */
    private def build(s: org.apache.spark.sql.SparkSession, dir: String,
        name: String, kind: String, indexed: Boolean): ZebraEngine =
      Scratch.cached(name, dir) { p =>
        val eng = ZebraEngine.create(
          s, p, EngineConfig(dim = 64, indexKind = kind))
        eng.insertRecords(Tables.embeddings(s, dir)
          .select(format_string("v%06d", col("vec_id")).as("id"), col("embedding")))
        if (indexed) eng.refreshIndex()
        eng
      }
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String): ZebraEngine =
      build(s, dir, "engine", "lsh", indexed = false)
    /** Same corpus, but with the LSH forest built — queries take the
      * indexed branch of `queryVectors`. */
    def ensureIndexed(s: org.apache.spark.sql.SparkSession, dir: String): ZebraEngine =
      build(s, dir, "engine_idx", "lsh", indexed = true)
    /** Same corpus through a pluggable index kind (ivfpq / sq8 / pq). */
    def ensureKind(
        s: org.apache.spark.sql.SparkSession, dir: String,
        kind: String): ZebraEngine =
      build(s, dir, s"engine_$kind", kind, indexed = true)
  }

  /** D1+D9+D11 through the real engine lifecycle: records inserted via
    * `insert_records` into an engine directory, queried back with
    * `query_vectors` — hash-checked against the same kNN oracle (the stored
    * floats round-trip parquet bit-exactly). */
  val engineRoundtrip = Q(
    "engine_roundtrip",
    (s, dir) => {
      val eng = EngineCache.ensure(s, dir)
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      eng.queryVectors(queries, k = 10)
        .orderBy("query_id", "id")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
           d AS (SELECT q.query_id, printf('v%06d', a.vec_id) AS id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.qe[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 GROUP BY q.query_id, a.vec_id)
      SELECT query_id, id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, id) AS rn FROM d)
      WHERE rn <= 10
      ORDER BY query_id, id"""))

  /** Shared full-budget kNN oracle for the pluggable-index entries: at an
    * exhaustive candidate budget every index kind must degenerate to the
    * SAME exact-kNN answer — one oracle, N engine index implementations. */
  private val fullBudgetOracle = Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 2),
           d AS (SELECT q.query_id, printf('v%06d', a.vec_id) AS id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.qe[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 GROUP BY q.query_id, a.vec_id)
      SELECT query_id, id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, id) AS rn FROM d)
      WHERE rn <= 10
      ORDER BY query_id, id""")

  private def fullBudgetQuery(kind: String)
      : (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, dir) => {
      val eng = EngineCache.ensureKind(s, dir, kind)
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      eng.queryVectors(queries, k = 10, searchK = Some(Int.MaxValue))
        .orderBy("query_id", "id")
    }

  /** The flagship lifecycle END TO END through the INDEX (reference
    * core.rs:267-313): insert_records → build_index → route → bucket join →
    * rerank → top-k. `engine_roundtrip` exercises the brute-force branch of
    * `query_vectors` (no index built); this entry refreshes the index and
    * queries at an exhaustive candidate budget, where the forest path
    * degenerates to exact kNN — so the RNG-dependent indexed branch gets a
    * deterministic DuckDB hash gate (same trick as `lsh_knn_full_budget`).
    * Kept on `ensureIndexed` (not `ensureKind`) because the LSH build is
    * the DEFAULT kind — the same engine shape `engine_roundtrip` queries
    * unindexed. */
  val engineIndexedFull = Q(
    "engine_indexed_full_budget",
    (s, dir) => {
      val eng = EngineCache.ensureIndexed(s, dir)
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      eng.queryVectors(queries, k = 10, searchK = Some(Int.MaxValue))
        .orderBy("query_id", "id")
    },
    fullBudgetOracle)

  /** The SAME lifecycle and query contract through the engine's pluggable
    * index kinds: IVF-PQ (coarse cells × codes → partition-pruned ADC
    * probe → exact rerank), SQ8 (exact per-dim bounds, 4x-compressed
    * codes-only shortlist scan), and PQ16 (16-byte codes + codebook ADC) —
    * each at exhaustive budget degenerates to exact kNN and lands on the
    * shared oracle hash. The compressed tiers are the 100 TB memory lever
    * surfaced in the PRODUCT API (`EngineConfig(indexKind = ...)`, VERDICT
    * r13 ask 7); recall at production budgets stays observable via the
    * existing ann_sq/ann_pq entries (same kernels). */
  val engineIvfPqFull = Q(
    "engine_ivfpq_full_budget", fullBudgetQuery("ivfpq"), fullBudgetOracle)

  val engineSqFull = Q(
    "engine_sq_full_budget", fullBudgetQuery("sq8"), fullBudgetOracle)

  val enginePqFull = Q(
    "engine_pq_full_budget", fullBudgetQuery("pq"), fullBudgetOracle)

  def qs: Seq[Q] =
    Seq(dedupExact, removeAntiJoin, engineRoundtrip, engineIndexedFull,
      engineIvfPqFull, engineSqFull, enginePqFull)
}
