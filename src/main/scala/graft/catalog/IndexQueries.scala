package graft.catalog

import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.{Scratch, Tables}
import graft.index.LshForest

/** The LSH random-projection forest surface (SURVEY.md §2.1 I4–I8, I12,
  * I13): build on a bounded sample, persist the flat leaf-sorted bucket
  * table, probe + backup-branch top-up, exact rerank. RNG-dependent (tree
  * shape depends on the seed), so not SQL-expressible — the driver records
  * rows-only checks; recall and determinism are gated in LshForestSpec. */
object IndexQueries {

  /** Per-JVM forest cache: model built + bucket table persisted once per
    * (sfDir, options) — queries after the first are pruned scans. */
  object LshCache {
    // The loaded DataFrame is cached per session too: spark.read.parquet
    // re-lists the index directory (numTrees × slice files) on every
    // call, which at per-query granularity costs more
    // than the probe itself. The cached plan keeps its InMemoryFileIndex.
    private val dfCache = scala.collection.concurrent.TrieMap[
      (org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]()
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String,
        opts: LshForest.Options = LshForest.Options())
        : (org.apache.spark.sql.DataFrame, LshForest.ForestModel) = {
      val (path, model) = ensurePath(s, dir, opts)
      (dfCache.getOrElseUpdate((s, path), LshForest.loadIndex(s, path)), model)
    }
    /** [[ensure]] returning the index's on-disk PATH instead of the loaded
      * frame — what [[graft.plans.KnnIndexRegistry]] registration needs. */
    def ensurePath(s: org.apache.spark.sql.SparkSession, dir: String,
        opts: LshForest.Options = LshForest.Options())
        : (String, LshForest.ForestModel) = {
      Scratch.cached(
          s"lsh_${opts.numTrees}_${opts.maxNodeSize}_${opts.seed}", dir) { p =>
        val e = Tables.embeddings(s, dir)
        val m = LshForest.build(e, opts)
        LshForest.writeIndex(e, m, p)
        (p, m)
      }
    }
  }

  /** I13/D11 through the forest: the reference's flagship `search` path
    * (lsh.rs:544-565) — probe 15 trees, union + dedup candidates, exact
    * rerank, take 10. */
  val lshKnn = Q(
    "lsh_knn_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (buckets, model) = LshCache.ensure(s, dir)
      recallGated(s, dir,
        LshForest.topK(queries, buckets, e, model, k = 10),
        floor = 0.8, nQueries = 20)
    },
    None)

  /** The forest at an exhaustive candidate budget (searchK >= corpus size)
    * degenerates to exact kNN — probes cover every leaf, candidates = all
    * vectors, rerank is the brute-force scan — so the full
    * route → bucket-join → rerank path gets a deterministic hash-checked
    * oracle despite the RNG-dependent tree shapes. */
  val lshKnnFull = Q(
    "lsh_knn_full_budget",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // 2 queries suffice to prove the plumbing; exhaustive budget means
      // each one reranks the whole corpus, so keep the batch minimal.
      val queries = e.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (buckets, model) = LshCache.ensure(s, dir)
      LshForest.topK(queries, buckets, e, model, k = 10,
        searchKOpt = Some(Int.MaxValue))
        .orderBy("query_id", "vec_id")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 2),
           d AS (SELECT q.query_id, a.vec_id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.qe[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 GROUP BY q.query_id, a.vec_id)
      SELECT query_id, vec_id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, vec_id) AS rn FROM d)
      WHERE rn <= 10
      ORDER BY query_id, vec_id"""))

  /** Per-JVM parquet cache of the exact-kNN ground truth the recall
    * observables compare against (vec_id < 20, k = 10, l2sq — shared by the
    * LSH and IVF twins): the ground truth is deterministic per fixture, so
    * recomputing the brute-force scan on every execution measured the
    * oracle, not the index under observation. */
  object GroundTruthCache {
    def topK10(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      Scratch.parquet(s, "truth", dir) {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.ops.SimSearch.exactTopK(queries, e, k = 10)
      }
  }

  /** Falsifiable gate for the rows-only approximate top-k entries (the
    * `q_sketch_distinct` within-bound pattern applied to ANN): recall@10
    * against the cached exact ground truth is computed INSIDE the query,
    * and when it sinks below `floor` a poison row (query_id = -1,
    * vec_id = -1, dist = the offending recall) is appended — so a recall
    * regression CHANGES the row count and content the driver records for
    * the entry, instead of silently re-recording same-shaped output.
    * Floors sit 0.075–0.175 under the measured 20-query values
    * (QUALITY_r9: lsh 0.975+, ivf/pq/ivfpq 0.97+ across SFs) — wide
    * enough for fixture-to-fixture variation at 0.005/miss granularity,
    * tight enough that a broken probe path (the failure mode this
    * guards) lands far below. Gates run on the SAME 20-query set
    * AnnCalibrate measures; the old 5-query gate had 0.02/miss
    * granularity and sat exactly ON the floor at sf0.1. */
  def recallGated(
      s: org.apache.spark.sql.SparkSession, dir: String,
      approx: org.apache.spark.sql.DataFrame,
      floor: Double, nQueries: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val truth = GroundTruthCache.topK10(s, dir)
      .filter(col("query_id") < nQueries)
    // r16 (guide §1.2 don't-recompute): the gate executes `approx` TWICE —
    // once for the recall count, once when the caller consumes the
    // returned frame — and for the serving entries `approx` IS the whole
    // probe → bucket-join → rerank pipeline. Materialize its ≤ k·nQueries
    // rows once (per-invocation localCheckpoint, recomputed every run);
    // the recall join and the returned ordered frame both read the
    // checkpointed blocks.
    val a = approx.localCheckpoint()
    val recall = graft.ops.SimSearch.recallAtK(a, truth)
    val ordered = a.orderBy("query_id", "vec_id")
    if (recall >= floor) ordered
    else ordered.union(
      Seq((-1L, -1L, math.rint(recall * 10000) / 10000))
        .toDF("query_id", "vec_id", "dist"))
  }

  /** The recall gate as an observable: recall@10 of the forest at
    * reference defaults against the exact scan, on the fixture corpus.
    * Rows-only (the approximate side is RNG-shaped), but the VALUE lands
    * in the driver's correctness artifact every round — recall regressions
    * show up as a changed number, not a silently weaker index. */
  val lshRecall = Q(
    "lsh_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (buckets, model) = LshCache.ensure(s, dir)
      val approx = LshForest.topK(queries, buckets, e, model, k = 10)
      val recall = graft.ops.SimSearch.recallAtK(
        approx, GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L)).toDF("recall_at_10", "n_queries")
    },
    None)

  /** I14-adjacent probe over the index itself: per-tree bucket stats
    * (leaf count, max leaf population) — the operational health check for
    * the forest (reference's `no_trees` / tree sizing, lsh.rs:389-409). */
  val lshStats = Q(
    "lsh_index_stats",
    (s, dir) => {
      val (buckets, _) = LshCache.ensure(s, dir)
      buckets.groupBy("tree_id")
        .agg(
          countDistinct("leaf_id").as("n_leaves"),
          count(lit(1)).as("n_rows"))
        .orderBy("tree_id")
    },
    None)

  /** FILTERED vector search — predicate + kNN, the most-requested
    * vector-store composition (beyond the reference, whose search has no
    * metadata filter): the predicate-filtered corpus frame is passed to
    * the SAME topK, so the filter lands inside the rerank join's scan
    * (Catalyst pushes it to parquet) and candidates failing it die before
    * scoring. At exhaustive budget the result is algebraically the exact
    * kNN of the filtered corpus — hash-checked against the SQL WHERE. */
  val lshKnnFilteredFull = Q(
    "lsh_knn_filtered_full_budget",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (buckets, model) = LshCache.ensure(s, dir)
      LshForest.topK(queries, buckets, e.filter(col("vec_id") % 3 === 0),
        model, k = 10, searchKOpt = Some(Int.MaxValue))
        .orderBy("query_id", "vec_id")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 2),
           d AS (SELECT q.query_id, a.vec_id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.qe[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 WHERE a.vec_id % 3 = 0
                 GROUP BY q.query_id, a.vec_id)
      SELECT query_id, vec_id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, vec_id) AS rn FROM d)
      WHERE rn <= 10
      ORDER BY query_id, vec_id"""))

  /** Filtered search at the DEFAULT budget, self-gating: recall against
    * the exact filtered twin must clear the floor or a poison row lands
    * (the ann_*_topk pattern). The budget is NOT hand-picked: topKFiltered
    * measures the predicate's selectivity (1/3 here) and scales the
    * candidate budget by 1/selectivity internally — candidates are drawn
    * BEFORE the filter, so an unscaled budget samples ~k/3 survivors. */
  val lshKnnFiltered = Q(
    "lsh_knn_filtered_topk",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val pred = col("vec_id") % 3 === 0
      val (buckets, model) = LshCache.ensure(s, dir)
      // same double-execution fix as recallGated: the filtered pipeline
      // runs once, its ≤ 50 rows checkpoint, recall + output read them
      val approx = LshForest.topKFiltered(queries, buckets, e, pred,
        model, k = 10).localCheckpoint()
      // the exact twin executes twice inside recallAtK (hit join + total
      // count) — materialize its ≤ 50 rows once, like approx
      val exact = graft.ops.SimSearch.exactTopK(queries, e.filter(pred), k = 10)
        .localCheckpoint()
      val recall = graft.ops.SimSearch.recallAtK(approx, exact)
      val ordered = approx.orderBy("query_id", "vec_id")
      if (recall >= 0.9) ordered
      else ordered.union(
        Seq((-1L, -1L, math.rint(recall * 10000) / 10000))
          .toDF("query_id", "vec_id", "dist"))
    },
    None)

  /** The Catalyst kNN REWRITE (SURVEY §4.2 custom piece 3, VERDICT r14
    * ask 4): the NAIVE brute-force plan — project distance-to-literal,
    * ORDER BY it, LIMIT k, no index API in sight — over a corpus
    * registered with [[graft.plans.KnnIndexRegistry]], rewritten by
    * [[graft.plans.KnnIndexRewrite]] into the probe → pruned-bucket-join
    * → rerank path. Registered at the exhaustive budget, so the rewritten
    * plan is bit-equal to brute force and the entry hash-lands on the same
    * generative oracle the full-budget twins use; KnnRewriteSpec asserts
    * the PLAN transformation (bucket join present, corpus sort gone) at a
    * serving budget. The entry itself stays falsifiable the recallGated
    * way: if the rule ever stops firing (optimized plan has no join — the
    * naive plan is join-free), a poison row changes the recorded hash. */
  val knnRewriteIdx = Q(
    "knn_rewrite_index",
    (s, dir) => {
      import s.implicits._
      val (path, model) = LshCache.ensurePath(s, dir)
      graft.plans.KnnIndexRewrite.install(s)
      graft.plans.KnnIndexRegistry.register(s, graft.plans.KnnIndexRegistry.Entry(
        vectorsPath = s"$dir/embeddings.parquet",
        indexPath = path, model = model, searchK = Some(Int.MaxValue)))
      val e = Tables.embeddings(s, dir)
      val q0 = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      val naive = e.select(col("vec_id"),
          round(graft.functions.Distances.l2sq(
            col("embedding").cast("array<double>"),
            array(q0.map(lit): _*)), 4).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
      val fired = naive.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
      if (fired) naive
      else naive.union(Seq((-1L, -1.0)).toDF("vec_id", "dist"))
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           d AS (SELECT a.vec_id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.qe[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 GROUP BY a.vec_id)
      SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10"""))

  def qs: Seq[Q] = Seq(lshKnn, lshKnnFull, lshRecall, lshStats,
    lshKnnFilteredFull, lshKnnFiltered, knnRewriteIdx)
}
