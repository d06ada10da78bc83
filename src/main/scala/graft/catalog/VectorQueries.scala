package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.{Scratch, Tables}
import graft.functions.{Distances, VectorOps}
import graft.ops.{Ivf, IvfPq, KnnJoin, Pq, SimSearch, Sq}

/** Vector algebra + search surface: I1–I3 (hyperplane predicate, subtract,
  * average), D11/I13 (batch exact top-k), I14 (emptiness probe), and the
  * IVF approximate path (scale extension).
  */
object VectorQueries {

  /** The exact-kNN (l2sq, 5 queries, k=10) DuckDB twin — the ONE oracle
    * every full-budget ANN entry (and knn_exact_l2sq itself) must land
    * on: four independent physical paths, one SQL definition. */
  private val exactKnnL2Oracle = """
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
           d AS (SELECT q.query_id, a.vec_id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.qe[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 GROUP BY q.query_id, a.vec_id)
      SELECT query_id, vec_id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, vec_id) AS rn FROM d)
      WHERE rn <= 10
      ORDER BY query_id, vec_id"""

  /** I1+I2+I3+dot in one query over adjacent vector pairs: scalar summaries
    * of subtract/average/dot plus the hyperplane-side predicate of the
    * hyperplane through (a,b)'s midpoint applied to vector 0
    * (reference: lsh.rs:39-43,174-190,192-248). */
  val vecOps = Q(
    "vec_ops",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("vec_id"), Distances.asDouble(col("embedding")).as("ea"))
      val b = e.select((col("vec_id") - 1).as("vec_id"), Distances.asDouble(col("embedding")).as("eb"))
      val q0 = e.filter(col("vec_id") === 0)
        .select(Distances.asDouble(col("embedding")).as("e0"))
      val coeff = VectorOps.subtract(col("eb"), col("ea"))
      val mid = VectorOps.average(col("ea"), col("eb"))
      val const = -Distances.dot(coeff, mid)
      // The hyperplane-side predicate is compared through a rounded margin
      // (not the raw >= 0 boolean) so a near-zero margin cannot flip between
      // engines with different summation order.
      val margin = round(Distances.dot(coeff, col("e0")) + const, 4)
      a.join(b, "vec_id").crossJoin(broadcast(q0))
        .select(
          col("vec_id"),
          round(aggregate(coeff, lit(0.0), _ + _), 4).as("sub_sum"),
          round(aggregate(mid, lit(0.0), _ + _), 4).as("avg_sum"),
          round(Distances.dot(col("ea"), col("eb")), 4).as("dot_ab"),
          margin.as("q0_margin"),
          (margin >= 0.0).as("q0_above"))
        .orderBy("vec_id")
    },
    Some("""
      WITH q AS (SELECT embedding AS e0 FROM embeddings WHERE vec_id = 0),
      m AS (
        SELECT a.vec_id AS vec_id,
               round(sum(b.embedding[t.i]::DOUBLE - a.embedding[t.i]::DOUBLE ORDER BY t.i), 4) AS sub_sum,
               round(sum((a.embedding[t.i]::DOUBLE + b.embedding[t.i]::DOUBLE) / 2 ORDER BY t.i), 4) AS avg_sum,
               round(sum(a.embedding[t.i]::DOUBLE * b.embedding[t.i]::DOUBLE ORDER BY t.i), 4) AS dot_ab,
               round(sum((b.embedding[t.i]::DOUBLE - a.embedding[t.i]::DOUBLE) * q.e0[t.i]::DOUBLE ORDER BY t.i)
                - sum((b.embedding[t.i]::DOUBLE - a.embedding[t.i]::DOUBLE)
                      * (a.embedding[t.i]::DOUBLE + b.embedding[t.i]::DOUBLE) / 2 ORDER BY t.i), 4) AS q0_margin
        FROM embeddings a
        JOIN embeddings b ON b.vec_id = a.vec_id + 1, q, generate_series(1, 64) t(i)
        GROUP BY a.vec_id)
      SELECT vec_id, sub_sum, avg_sum, dot_ab, q0_margin, q0_margin >= 0 AS q0_above
      FROM m ORDER BY vec_id"""))

  /** D11/I13: batch exact kNN — ONE plan for the whole query batch
    * (broadcast queries × streamed vectors scan → per-query ranking window),
    * vs the reference's per-query rayon loop (core.rs:290-313). */
  val knnExact = Q(
    "knn_exact_l2sq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimSearch.exactTopK(queries, e, k = 10)
        .orderBy("query_id", "vec_id")
    },
    Some(exactKnnL2Oracle))

  /** Cosine variant of the batch kNN (default image/audio metric, M1). */
  val knnCosine = Q(
    "knn_exact_cosine",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimSearch.exactTopK(queries, e, k = 10, metric = Distances.Cosine)
        .orderBy("query_id", "vec_id")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
           d AS (SELECT q.query_id, a.vec_id,
                        floor(greatest(0, 1 - sum(a.embedding[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)
                                   / (sqrt(sum(a.embedding[t.i]::DOUBLE * a.embedding[t.i]::DOUBLE ORDER BY t.i))
                                      * sqrt(sum(q.qe[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)))) * 1e4) / 1e4 AS dist
                 FROM embeddings a, q, generate_series(1, 64) t(i)
                 GROUP BY q.query_id, a.vec_id)
      SELECT query_id, vec_id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, vec_id) AS rn FROM d)
      WHERE rn <= 10
      ORDER BY query_id, vec_id"""))

  /** Per-JVM IVF index cache: built once per (sfDir, nlist), persisted
    * `partitionBy("cell_id")` so every query after the first is a
    * partition-pruned scan — the round-1 entry rebuilt the index inside
    * every execution. */
  object IvfCache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String, nlist: Int)
        : (org.apache.spark.sql.DataFrame, Ivf.IvfModel) = {
      val (path, model) = Scratch.cached(s"ivf_$nlist", dir) { p =>
        val e = Tables.embeddings(s, dir)
        val m = Ivf.chooseCentroids(e, nlist)
        Ivf.buildIndex(e, m, p)
        (p, m)
      }
      (Ivf.loadIndex(s, path), model)
    }
  }

  /** IVF-Flat approximate top-k (scale path; recall-gated in ScalaTest
    * against knn_exact — centroid choice uses xxhash64, not SQL-expressible,
    * so the driver records a rows-only check). Serving default nprobe=14:
    * recall is probe-limited (the rerank/ADC budgets have zero effect, the
    * loss is a true neighbor in an unprobed cell), measured
    * recall@10 = 0.98 at sf0.01 / 0.975 at sf0.1 (20 queries) vs
    * 0.92 / 0.935 at nprobe=12 — nprobe=12 sat below the 0.9 floor at the
    * bench SF. The gate runs over the SAME 20-query set AnnCalibrate
    * measures (granularity 0.005/miss, headroom 15 misses): at nq=5 the
    * measured sf0.1 value is exactly 0.9000 — one unlucky query flips the
    * sentinel — so the 5-query gate was a coin standing on its edge. */
  val knnIvf = Q(
    "ann_ivf_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (index, model) = IvfCache.ensure(s, dir, nlist = 16)
      IndexQueries.recallGated(s, dir,
        Ivf.topK(queries, index, model, k = 10, nprobe = 14),
        floor = 0.9, nQueries = 20)
    },
    None)

  /** IVF at full probe (nprobe = nlist) is exhaustive — algebraically equal
    * to exact kNN — so the whole IVF plumbing (persisted partitioned index,
    * probe generation, cell join, bounded top-k) gets a deterministic
    * hash-checked oracle even though centroid choice is engine-specific. */
  val knnIvfFull = Q(
    "ann_ivf_full_probe",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (index, model) = IvfCache.ensure(s, dir, nlist = 16)
      Ivf.topK(queries, index, model, k = 10, nprobe = 16)
        .orderBy("query_id", "vec_id")
    },
    Some(exactKnnL2Oracle))

  /** The IVF production path's quality as an observable (twin of
    * `lsh_recall_at10`): recall@10 at the default nprobe against the exact
    * scan. Rows-only (centroid choice is engine-specific RNG), but the
    * VALUE lands in the driver's correctness artifact every round — a
    * recall regression shows up as a changed number, not a silently weaker
    * index. */
  val ivfRecall = Q(
    "ann_ivf_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (index, model) = IvfCache.ensure(s, dir, nlist = 16)
      val approx = Ivf.topK(queries, index, model, k = 10, nprobe = 14)
      val recall = SimSearch.recallAtK(
        approx, IndexQueries.GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L)).toDF("recall_at_10", "n_queries")
    },
    None)

  /** Per-JVM PQ model + persisted codes table (8 subspaces × 256 centroids
    * over the 64-d fixture: 8 bytes/vector, 32× smaller than the floats). */
  object PqCache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String)
        : (org.apache.spark.sql.DataFrame, Pq.PqModel) = {
      val (path, model) = Scratch.cached("pq", dir) { p =>
        val e = Tables.embeddings(s, dir)
        // trainPermuted: seeded coordinate-permutation search (OPQ-lite)
        // by measured codes-only recall on the build sample — the winner
        // rides inside the model, so every consumer (ADC scan, rerank
        // path, full-budget exact twin) stays coherent automatically
        val m = Pq.trainPermuted(e, m = 8, ksub = 256)
        Pq.encode(e, m).write.mode("overwrite").parquet(p)
        (p, m)
      }
      (s.read.parquet(path), model)
    }
  }

  /** PQ production path: ADC over the codes, occupancy-scaled exact rerank
    * (Pq.defaultRerank — shortlist tracks corpus size). Rows-only
    * (Lloyd-trained codebooks are engine-specific); quality is the recall
    * observable below plus the exhaustive twin's hash gate. */
  val knnPq = Q(
    "ann_pq_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = PqCache.ensure(s, dir)
      IndexQueries.recallGated(s, dir,
        Pq.topK(queries, codes, e, model, k = 10,
          rerank = Pq.defaultRerank(10, e.count())),
        floor = 0.9, nQueries = 20)
    },
    None)

  /** PQ with an exhaustive rerank budget shortlists EVERY vector, so the
    * exact rerank makes the result algebraically equal to exact kNN — the
    * whole compress → ADC scan → shortlist → rerank plumbing lands on a
    * deterministic hash even though the codebooks are engine-specific
    * (same twin trick as ann_ivf_full_probe / lsh_knn_full_budget). */
  val knnPqFull = Q(
    "ann_pq_full_rerank",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = PqCache.ensure(s, dir)
      Pq.topK(queries, codes, e, model, k = 10, rerank = Int.MaxValue)
        .orderBy("query_id", "vec_id")
    },
    Some(exactKnnL2Oracle))

  /** Codes-only ADC quality as an observable (third member of the recall
    * family): how much of exact top-10 an 8-byte-per-vector scan recovers
    * with NO access to the raw floats. DELIBERATELY below the serving
    * numbers — the name and column say adc_only so the artifact is
    * self-describing (the serving path is the reranked observable below). */
  val pqRecall = Q(
    "ann_pq_adc_only_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = PqCache.ensure(s, dir)
      val approx = Pq.adcTopK(queries, codes, model, k = 10)
      val recall = SimSearch.recallAtK(
        approx, IndexQueries.GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L))
        .toDF("recall_at_10_adc_only", "n_queries")
    },
    None)

  /** Per-JVM 16-byte PQ codes (m=16 subspaces, same trainPermuted
    * pipeline) — the code budget behind `ann_pq16_adc_only_recall_at10`. */
  private object Pq16Cache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String)
        : (org.apache.spark.sql.DataFrame, Pq.PqModel) = {
      val (path, model) = Scratch.cached("pq16", dir) { p =>
        val e = Tables.embeddings(s, dir)
        val m = Pq.trainPermuted(e, m = 16, ksub = 256)
        Pq.encode(e, m).write.mode("overwrite").parquet(p)
        (p, m)
      }
      (s.read.parquet(path), model)
    }
  }

  /** Codes-only recall at the 16-BYTE budget (m=16 subspaces × 256
    * centroids) — the code size that clears recall@10 ≥ 0.55 on this
    * fixture, shipped next to the 8-byte observable because the 8-byte
    * number is an INFORMATION floor, not an algorithm gap: PqPermProbe
    * measured the best-of-24 permutation ceiling at 0.52 even when
    * selecting directly on corpus recall (an overfit upper bound for any
    * selector), while the same pipeline at 16 B scores 0.615 and at 32 B
    * 0.87. A deployment that needs ≥0.55 without touching raw floats
    * buys it with 2 bytes per subspace-group, not with a cleverer
    * rotation. Rows-only (Lloyd codebooks are engine-specific). */
  val pq16Recall = Q(
    "ann_pq16_adc_only_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = Pq16Cache.ensure(s, dir)
      val approx = Pq.adcTopK(queries, codes, model, k = 10)
      val recall = SimSearch.recallAtK(
        approx, IndexQueries.GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L))
        .toDF("recall_at_10_adc16", "n_queries")
    },
    None)

  /** Serving-path PQ recall at the occupancy-scaled default rerank — the
    * number a user of ann_pq_topk actually gets. */
  val pqRerankRecall = Q(
    "ann_pq_rerank_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = PqCache.ensure(s, dir)
      val approx = Pq.topK(queries, codes, e, model, k = 10,
        rerank = Pq.defaultRerank(10, e.count()))
      val recall = SimSearch.recallAtK(
        approx, IndexQueries.GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L))
        .toDF("recall_at_10", "n_queries")
    },
    None)

  /** Per-JVM PQ codes over the variance-concentrated twin, plain and
    * Hadamard-rotated — the pair behind `ann_pq_rot_gain_at10`. */
  private object RotPqCache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String)
        : ((String, Pq.PqModel), (String, Pq.PqModel)) =
      Scratch.cached("pqrot", dir) { p =>
        val twin = Tables.embeddings(s, dir)
          .select(col("vec_id"), mrlTrained(col("embedding")).as("embedding"))
          .localCheckpoint(eager = true)
        val rot = twin.select(col("vec_id"),
          graft.ops.Rotation.rotateUdf(col("embedding")).as("embedding"))
          .localCheckpoint(eager = true)
        def fit(e: org.apache.spark.sql.DataFrame, tag: String) = {
          val m = Pq.train(e, m = 8, ksub = 256)
          Pq.encode(e, m).write.mode("overwrite").parquet(s"$p/$tag")
          (s"$p/$tag", m)
        }
        (fit(twin, "plain"), fit(rot, "rot"))
      }
  }

  /** The rotation's recall EFFECT as a self-describing observable (the
    * kernel itself is hash-gated as `vec_rot_hadamard`): codes-only ADC
    * recall@10 over the variance-CONCENTRATED twin (the mrlTrained
    * embedding — energy halves every 4 dims, so one PQ subspace carries
    * most of the signal), plain vs Hadamard-rotated, same exact-kNN
    * ground truth (the rotation is orthogonal up to a uniform ×64, so
    * both searches answer the SAME query). Rotation spreads each input
    * dim across all subspaces with zero trained parameters — measured
    * +6.5pp at sf0.01, +3pp at sf0.1; on the iid raw fixture it is a
    * wash by design (nothing to rebalance), which is why the observable
    * runs on the concentrated twin. Rows-only (Lloyd codebooks are
    * engine-specific). */
  val pqRotGain = Q(
    "ann_pq_rot_gain_at10",
    (s, dir) => {
      import s.implicits._
      val twin = Tables.embeddings(s, dir)
        .select(col("vec_id"), mrlTrained(col("embedding")).as("embedding"))
      val queries = twin.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val rotQueries = queries.select(col("query_id"),
        graft.ops.Rotation.rotateUdf(col("embedding")).as("embedding"))
      val ((plainPath, plainModel), (rotPath, rotModel)) =
        RotPqCache.ensure(s, dir)
      // consumed by TWO recallAtK calls, each executing it twice (hit
      // join + total count) — materialize the 200-row exact twin once
      val exact = SimSearch.exactTopK(queries, twin, k = 10).localCheckpoint()
      def recallOf(path: String, model: Pq.PqModel,
          qs: org.apache.spark.sql.DataFrame): Double =
        SimSearch.recallAtK(
          Pq.adcTopK(qs, s.read.parquet(path), model, k = 10), exact)
      Seq((
        math.rint(recallOf(plainPath, plainModel, queries) * 10000) / 10000,
        math.rint(recallOf(rotPath, rotModel, rotQueries) * 10000) / 10000,
        20L)).toDF("recall_plain", "recall_rotated", "n_queries")
    },
    None)

  /** Per-JVM IVF-PQ model + persisted compressed partitioned index. */
  object IvfPqCache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String)
        : (org.apache.spark.sql.DataFrame, IvfPq.IvfPqModel) = {
      val (path, model) = Scratch.cached("ivfpq", dir) { p =>
        val e = Tables.embeddings(s, dir)
        val m = IvfPq.train(e, nlist = 16)
        IvfPq.buildIndex(e, m, p)
        (p, m)
      }
      (IvfPq.loadIndex(s, path), model)
    }
  }

  /** IVF-PQ production path: partition-pruned probe + ADC over 8-byte
    * codes + small exact rerank (rows-only: both quantizers are
    * engine-specific). Same probe-limited recall profile as ann_ivf_topk
    * (the occupancy-scaled rerank already recovers everything the probe
    * reaches — recall is identical at 1×/2×/4× the default rerank), so the
    * serving default moves with it: nprobe=14, floor 0.9. Gated on the
    * 20-query AnnCalibrate set (measured 0.98 sf0.01 / 0.975 sf0.1 at
    * nprobe=14; the nq=5 sf0.1 value is exactly 0.9000 — no headroom). */
  val knnIvfPq = Q(
    "ann_ivfpq_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (index, model) = IvfPqCache.ensure(s, dir)
      IndexQueries.recallGated(s, dir,
        IvfPq.topK(queries, index, e, model, k = 10, nprobe = 14,
          rerank = IvfPq.defaultRerank(
            10, Tables.embeddings(s, dir).count(), nprobe = 14, nlist = 16)),
        floor = 0.9, nQueries = 20)
    },
    None)

  /** IVF-PQ with BOTH budgets exhaustive (nprobe = nlist, rerank =
    * corpus): the probe covers every cell and the rerank rescans every
    * shortlisted vector exactly, so the composed compress + prune +
    * ADC + rerank pipeline is algebraically exact kNN and hash-checks
    * against the same oracle as the other two full-budget twins. */
  val knnIvfPqFull = Q(
    "ann_ivfpq_full_budget",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (index, model) = IvfPqCache.ensure(s, dir)
      IvfPq.topK(queries, index, e, model,
        k = 10, nprobe = 16, rerank = Int.MaxValue)
        .orderBy("query_id", "vec_id")
    },
    Some(exactKnnL2Oracle))

  /** IVF-PQ production-path quality as an observable (fourth member of
    * the recall family, closing the loop on the occupancy sizing law:
    * this is the DEFAULT-budget path the engine now serves, so a rerank
    * mis-sizing shows up here as a dropped number every round). */
  val ivfPqRecall = Q(
    "ann_ivfpq_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (index, model) = IvfPqCache.ensure(s, dir)
      val approx = IvfPq.topK(queries, index, e, model, k = 10, nprobe = 14,
        rerank = IvfPq.defaultRerank(10, e.count(), nprobe = 14, nlist = 16))
      val recall = SimSearch.recallAtK(
        approx, IndexQueries.GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L)).toDF("recall_at_10", "n_queries")
    },
    None)

  /** Per-JVM parquet cache for the kNN-join family: the n² exact self-join
    * top-3 (the ground truth all three entries compare against) and the
    * bucketed approximate join (used by two entries, and referenced three
    * times within `knn_join_bucketed`'s gate alone). Without this the
    * three catalog entries recomputed the exact twin three times and the
    * bucket pipeline five times — 20.5 s of the sf0.1 bench; same pattern
    * and rationale as [[IndexQueries.GroundTruthCache]] / [[DedupQueries.PairsCache]]. */
  object KnnJoinCache {
    def exact3(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      Scratch.parquet(s, "knnjoin_exact3", dir) {
        val e = Tables.embeddings(s, dir)
        SimSearch.exactTopK(
          e.select(col("vec_id").as("query_id"), col("embedding")), e, k = 3)
      }
    def approx3(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      Scratch.parquet(s, "knnjoin_approx3", dir) {
        val e = Tables.embeddings(s, dir)
        val (buckets, model) = IndexQueries.LshCache.ensure(s, dir)
        KnnJoin.knnJoin(
          e.select(col("vec_id").as("query_id"), col("embedding")),
          e, model, k = 3, corpusRoutes = Some(buckets))
      }
  }

  /** Exact self-join kNN: EVERY corpus row is a query (top-3 neighbors,
    * self included) — the ground-truth anchor for the bucketed kNN join
    * below, and the largest exact surface in the catalog (n² scored
    * pairs). The Spark side is still the one-plan broadcast form; the
    * JOIN-shaped scale path is `knn_join_bucketed`. */
  val knnJoinExact = Q(
    "knn_join_exact",
    (s, dir) => KnnJoinCache.exact3(s, dir).orderBy("query_id", "vec_id"),
    Some("""
      WITH d AS (SELECT q.vec_id AS query_id, a.vec_id,
                        round(sum(power(a.embedding[t.i]::DOUBLE - q.embedding[t.i]::DOUBLE, 2) ORDER BY t.i), 4) AS dist
                 FROM embeddings a, embeddings q, generate_series(1, 64) t(i)
                 GROUP BY q.vec_id, a.vec_id)
      SELECT query_id, vec_id, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, vec_id) AS rn FROM d)
      WHERE rn <= 3
      ORDER BY query_id, vec_id"""))

  /** The kNN JOIN scale path ([[graft.ops.KnnJoin]]): every corpus row as
    * a query against the corpus through the forest's (tree, leaf) bucket
    * equi-join — neither side broadcast, candidates bounded by leaf
    * occupancy. Self-gating like the ANN top-k entries: top-1 must be
    * self for every query (identical vectors route identically, the same
    * invariant the near-dup dedup path rests on) and recall@3 against the
    * exact self-join twin must clear the floor, else a poison row lands. */
  val knnJoinBucketed = Q(
    "knn_join_bucketed",
    (s, dir) => {
      import s.implicits._
      val approx = KnnJoinCache.approx3(s, dir)
      val recall = SimSearch.recallAtK(approx, KnnJoinCache.exact3(s, dir))
      val selfRows = approx.filter(col("query_id") === col("vec_id"))
      val selfMisses = selfRows.filter(col("dist") =!= 0.0).count() +
        (Tables.embeddings(s, dir).count() - selfRows.count())
      val ordered = approx.orderBy("query_id", "vec_id")
      if (recall >= 0.8 && selfMisses == 0) ordered
      else ordered.union(
        Seq((-1L, -1L, math.rint(recall * 10000) / 10000 - selfMisses))
          .toDF("query_id", "vec_id", "dist"))
    },
    None)

  /** The kNN-join path's quality as an observable (twin of
    * `lsh_recall_at10` for the join-shaped scale path): recall@3 of the
    * bucket equi-join at the default probe budget against the exact
    * self-join, all queries. */
  val knnJoinRecall = Q(
    "knn_join_recall_at3",
    (s, dir) => {
      import s.implicits._
      val n = Tables.embeddings(s, dir).count()
      val recall = SimSearch.recallAtK(
        KnnJoinCache.approx3(s, dir), KnnJoinCache.exact3(s, dir))
      Seq((math.rint(recall * 10000) / 10000, n)).toDF("recall_at_3", "n_queries")
    },
    None)

  /** I14 emptiness probe: `is_empty`/`no_vectors` as a count. */
  val countVectors = Q(
    "count_vectors",
    (s, dir) => Tables.embeddings(s, dir).agg(count(lit(1)).as("n")),
    Some("SELECT count(*) AS n FROM embeddings"))

  /** The streaming top-k leaderboard ([[graft.ops]] analogue:
    * `StreamOps.topKStream`) executed on a BATCH frame — Spark runs
    * `mapGroupsWithState` on batch inputs with empty initial state, so the
    * exact stateful code the stream runs is hash-checked against the same
    * row_number oracle as `knn_exact_l2sq` (a fifth independent physical
    * path to the one SQL definition; stream-vs-batch parity of the same
    * function is gated in StreamingSpec). */
  val topkStreamBatch = Q(
    "q_topk_stream_batch",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          Distances.asDouble(col("embedding")).as("qe"))
      val scored = e
        .select(col("vec_id"), Distances.asDouble(col("embedding")).as("ve"))
        .crossJoin(broadcast(queries))
        .select(col("query_id"), col("vec_id"),
          round(Distances.L2Squared(col("qe"), col("ve")), 4).as("dist"))
      graft.streaming.StreamOps.topKStream(scored, k = 10)
        .select("query_id", "vec_id", "dist")
        .orderBy("query_id", "vec_id")
    },
    Some(exactKnnL2Oracle))

  /** SQ8 compressed scan, FULLY hash-checked — unique among the ANN
    * families: the quantization bounds are exact per-dimension extremes
    * (no RNG, no Lloyd), so the oracle replays encode → reconstruct →
    * score → rank with operation-for-operation identical arithmetic and
    * the whole approximate path must hash-match, not just an
    * exhaustive-budget twin. */
  val knnSq = Q(
    "ann_sq_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = Sq.Cache.ensure(s, dir)
      Sq.topK(queries, codes, model, k = 10)
        .orderBy("query_id", "vec_id")
    },
    Some("""
      WITH dims AS (
        SELECT t.i, min(a.embedding[t.i]::DOUBLE) AS mn,
               max(a.embedding[t.i]::DOUBLE) AS mx
        FROM embeddings a, generate_series(1, 64) t(i) GROUP BY t.i),
      rec AS (
        SELECT a.vec_id, d.i,
               d.mn + (CASE WHEN d.mx = d.mn THEN 0
                       ELSE floor((a.embedding[d.i]::DOUBLE - d.mn) * 255
                                  / (d.mx - d.mn)) END)
                     * (d.mx - d.mn) / 255 AS xr
        FROM embeddings a CROSS JOIN dims d),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id < 5),
      d2 AS (SELECT q.query_id, r.vec_id,
                    round(sum(power(q.qe[r.i]::DOUBLE - r.xr, 2)
                              ORDER BY r.i), 4) AS dist
             FROM rec r CROSS JOIN q GROUP BY q.query_id, r.vec_id)
      SELECT query_id, vec_id, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, vec_id) AS rn FROM d2)
      WHERE rn <= 10 ORDER BY query_id, vec_id"""))

  /** SQ8 quality observable (fourth member of the recall family): what a
    * 4×-compressed scan recovers of exact top-10 with no rerank. */
  val sqRecall = Q(
    "ann_sq_recall_at10",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (codes, model) = Sq.Cache.ensure(s, dir)
      val approx = Sq.topK(queries, codes, model, k = 10)
      val recall = SimSearch.recallAtK(
        approx, IndexQueries.GroundTruthCache.topK10(s, dir))
      Seq((math.rint(recall * 10000) / 10000, 20L)).toDF("recall_at_10", "n_queries")
    },
    None)

  /** Matryoshka-style two-stage retrieval (MRL truncation, Kusupati et
    * al. 2022 applied at query time): stage 1 ranks the corpus by cosine
    * over the FIRST 16 of 64 dimensions (an MRL-trained embedder front-
    * loads information, so the prefix is a 4×-cheaper coarse scorer;
    * cosine is scale-invariant so truncation needs no renormalization),
    * keeps 50 candidates per query, and stage 2 exact-reranks only those
    * pairs at full dimension ([[graft.ops.SimSearch.rerankTopK]] — the
    * corpus is probed by vec_id with the bounded pair set as build side,
    * exactly how a 100 TB two-stage retrieval bounds its second pass).
    * Both stages select over 1e-4-quantized distances with vec_id
    * tie-breaks, so the WHOLE cascade is deterministic and the oracle
    * replays it: unlike the LSH/IVF/PQ families this "approximate" method
    * has no build randomness, making it the one ANN entry whose full
    * result — not an exhaustive twin — is hash-checked. Honest caveat:
    * the fixture's embeddings are synthetic, not MRL-trained, so the
    * prefix carries no front-loaded information and measured recall@10
    * is ~0.4 (19/50 hits at sf0.1) — the entries gate the MECHANISM
    * (deterministic cascade, bounded second pass), and the hash-checked
    * per-query hit counts pin that number exactly rather than letting a
    * floor drift. */
  private val MrlPrefix = 16
  private val MrlCands = 50
  private def mrlOracle(select: String) = s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
      d1 AS (SELECT q.query_id, a.vec_id,
                    floor(greatest(0, 1 - sum(a.embedding[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)
                               / (sqrt(sum(a.embedding[t.i]::DOUBLE * a.embedding[t.i]::DOUBLE ORDER BY t.i))
                                  * sqrt(sum(q.qe[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)))) * 1e4) / 1e4 AS dist
             FROM embeddings a, q, generate_series(1, $MrlPrefix) t(i)
             GROUP BY q.query_id, a.vec_id),
      cand AS (SELECT query_id, vec_id
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY dist, vec_id) AS rn
                     FROM d1)
               WHERE rn <= $MrlCands),
      d2 AS (SELECT c.query_id, c.vec_id,
                    floor(greatest(0, 1 - sum(a.embedding[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)
                               / (sqrt(sum(a.embedding[t.i]::DOUBLE * a.embedding[t.i]::DOUBLE ORDER BY t.i))
                                  * sqrt(sum(q.qe[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)))) * 1e4) / 1e4 AS dist
             FROM cand c
             JOIN embeddings a ON a.vec_id = c.vec_id
             JOIN q ON q.query_id = c.query_id, generate_series(1, 64) t(i)
             GROUP BY c.query_id, c.vec_id),
      mrl AS (SELECT query_id, vec_id, dist
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                 ORDER BY dist, vec_id) AS rn
                    FROM d2)
              WHERE rn <= 10)
      $select"""

  private def mrlTopKFrame(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cands = SimSearch.exactTopK(
      queries.select(col("query_id"),
        slice(col("embedding"), 1, MrlPrefix).as("embedding")),
      e.select(col("vec_id"),
        slice(col("embedding"), 1, MrlPrefix).as("embedding")),
      k = MrlCands, metric = Distances.Cosine)
    SimSearch.rerankTopK(cands, queries, e, k = 10,
      metric = Distances.Cosine)
  }

  val knnMrl = Q(
    "ann_mrl_topk",
    (s, dir) => mrlTopKFrame(s, dir).orderBy("query_id", "vec_id"),
    Some(mrlOracle(
      "SELECT query_id, vec_id, dist FROM mrl ORDER BY query_id, vec_id")))

  /** Variance-concentrating "MRL-trained" twin of the fixture embeddings:
    * dimension i (1-based) scaled by 2^-((i-1) div 4) — halve the scale
    * every 4 dims, so the 16-dim prefix carries ~99.6% of the energy, the
    * front-loading an actually-MRL-trained embedder would produce
    * (Kusupati et al. 2022). Every weight is a power of two, so the
    * scaling is EXACT in IEEE-754 on both engines (an exponent shift, no
    * mantissa change) and the whole cascade stays bit-replayable in
    * DuckDB. This is what makes the recall gate LIVE: on the raw
    * synthetic fixture the prefix carries no information and recall pins
    * at the 0.58/0.38 mechanism number — a gate that cannot move cannot
    * catch a prefix-prefilter regression. */
  private def mrlTrained(emb: Column): Column =
    transform(emb, (x, i) =>
      (x.cast("double") / pow(lit(2.0), (i / lit(4)).cast("int")))
        .cast("float"))

  /** `arr[t.i]` under the same per-dim power-of-two weighting, oracle
    * side. */
  private def wEl(arr: String) =
    s"($arr[t.i]::DOUBLE / (1 << ((t.i-1)//4)))"
  private def wCos(arr: String, qe: String) =
    s"""floor(greatest(0, 1 - sum(${wEl(arr)} * ${wEl(qe)} ORDER BY t.i)
               / (sqrt(sum(${wEl(arr)} * ${wEl(arr)} ORDER BY t.i))
                  * sqrt(sum(${wEl(qe)} * ${wEl(qe)} ORDER BY t.i)))) * 1e4) / 1e4"""

  /** Per-query hit count of the MRL cascade against the full-dimension
    * exact top-10, over the [[mrlTrained]] twin — HASH-CHECKED like the
    * raw-fixture entries (everything exact and deterministic), and now a
    * LIVE quality gate: recall lands ≈1.0 because the prefix genuinely
    * front-loads variance, so a regression in the prefix-prefilter logic
    * (wrong slice, wrong metric, dropped rerank) drops whole hit counts
    * and flips the hash red. Queries whose cascade returns ZERO exact
    * hits still emit an n_hit = 0 row (left join + coalesce on both
    * sides), keeping QualityReport's denominator at the true query count.
    * The raw-fixture mechanism number lives on in `ann_mrl_topk`. */
  val mrlRecall = Q(
    "ann_mrl_recall_at10",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), mrlTrained(col("embedding")).as("embedding"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = SimSearch.exactTopK(queries, e, k = 10,
        metric = Distances.Cosine).select("query_id", "vec_id")
      val cands = SimSearch.exactTopK(
        queries.select(col("query_id"),
          slice(col("embedding"), 1, MrlPrefix).as("embedding")),
        e.select(col("vec_id"),
          slice(col("embedding"), 1, MrlPrefix).as("embedding")),
        k = MrlCands, metric = Distances.Cosine)
      val approx = SimSearch.rerankTopK(cands, queries, e, k = 10,
        metric = Distances.Cosine)
      val hits = approx.select("query_id", "vec_id")
        .join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      queries.select("query_id")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
      d1 AS (SELECT q.query_id, a.vec_id, ${wCos("a.embedding", "q.qe")} AS dist
             FROM embeddings a, q, generate_series(1, $MrlPrefix) t(i)
             GROUP BY q.query_id, a.vec_id),
      cand AS (SELECT query_id, vec_id
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY dist, vec_id) AS rn
                     FROM d1)
               WHERE rn <= $MrlCands),
      ex AS (SELECT q.query_id, a.vec_id, ${wCos("a.embedding", "q.qe")} AS dist
             FROM embeddings a, q, generate_series(1, 64) t(i)
             GROUP BY q.query_id, a.vec_id),
      mrl AS (SELECT query_id, vec_id
              FROM (SELECT e.query_id, e.vec_id, e.dist,
                           row_number() OVER (PARTITION BY e.query_id
                                              ORDER BY e.dist, e.vec_id) AS rn
                    FROM ex e JOIN cand c
                      ON c.query_id = e.query_id AND c.vec_id = e.vec_id)
              WHERE rn <= 10),
      exact10 AS (SELECT query_id, vec_id
                  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                     ORDER BY dist, vec_id) AS rn
                        FROM ex)
                  WHERE rn <= 10),
      hits AS (SELECT m.query_id, count(*)::BIGINT AS n_hit
               FROM mrl m JOIN exact10 x
                 ON x.query_id = m.query_id AND x.vec_id = m.vec_id
               GROUP BY m.query_id)
      SELECT q.query_id, coalesce(h.n_hit, 0)::BIGINT AS n_hit
      FROM q LEFT JOIN hits h ON h.query_id = q.query_id
      ORDER BY q.query_id"""))

  def qs: Seq[Q] = Seq(
    vecOps, knnExact, knnCosine, knnIvf, knnIvfFull, ivfRecall,
    knnPq, knnPqFull, pqRecall, pq16Recall, pqRerankRecall, pqRotGain,
    knnIvfPq, knnIvfPqFull,
    ivfPqRecall,
    knnSq, sqRecall, knnMrl, mrlRecall,
    knnJoinExact, knnJoinBucketed, knnJoinRecall, countVectors, topkStreamBatch)
}
