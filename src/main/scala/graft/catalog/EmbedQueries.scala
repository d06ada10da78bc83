package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.{Scratch, Tables}
import graft.embed.HashingTextEmbedder
import graft.engine.{EngineConfig, ZebraEngine}
import graft.functions.Distances
import graft.ops.SimSearch

/** The embedding surface (SURVEY.md §2.4 E1/E2, §2.2 D8/D10): the hashing
  * text embedder plus the document-level insert/query composition. The
  * embedder is not SQL-expressible (MurmurHash3 feature hashing), so the
  * driver records rows-only checks; determinism and self-retrieval are
  * gated in EmbedderSpec. */
object EmbedQueries {

  private val embedder = HashingTextEmbedder()

  /** Guard for the md5-twin family: docs whose text has no non-empty
    * space-split token vanish at the oracle's unnest (no sparse rows, no
    * ‖·‖² row), while the Spark side would embed them as zero vectors —
    * excluding them on BOTH sides keeps the relations identical even if
    * the fixture ever grows an empty document (same guard as
    * dedup_simhash_pairs). */
  private[catalog] def hasTokens: org.apache.spark.sql.Column =
    size(filter(split(lower(col("text")), " "), t => t =!= lit(""))) > 0

  /** E2 + D11: embed the documents fixture, then batch kNN over the
    * embedded space — text-to-text retrieval without a pre-embedded table. */
  val textKnn = Q(
    "text_knn",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val vecs = embedder.embed(docs, "text", "embedding")
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val queries = vecs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimSearch.exactTopK(queries, vecs, k = 5, metric = Distances.Cosine)
        .orderBy("query_id", "vec_id")
    },
    None)

  /** Oracle twin of [[textKnn]]: the same embed → exactTopK composition,
    * but through [[graft.embed.Md5CountEmbedder]] — md5-derived integer
    * count vectors, so every distance is an exactly-representable integer
    * and DuckDB can replay the whole path from the hex digests. The
    * oracle works in the SPARSE domain (dist = ‖q‖² + ‖v‖² − 2·q·v via a
    * bucket join) while Spark runs the real dense-vector kernel — two
    * independent formulations that must agree bit-for-bit, which gates
    * the embed plumbing AND the top-k kernel in one hash check. */
  /** Shared oracle CTE chain replaying [[graft.embed.Md5CountEmbedder]] in
    * the sparse domain, ending in per-doc squared norms `n2(doc_id, n2)`
    * and query-to-doc dot products `dots(query_id, vec_id, dot)` for the
    * `doc_id < 3` query set. */
  /** The toks → md5 → signed-bucket → sparse-weights prefix shared by
    * every md5-twin oracle: ends in `sp(doc_id, bucket, w)`. */
  private[catalog] val sparseSp = """
      WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      th AS MATERIALIZED (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
      f AS MATERIALIZED (SELECT doc_id,
              ((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
              +(strpos('0123456789abcdef', substr(h,2,1))-1)*256
              +(strpos('0123456789abcdef', substr(h,3,1))-1)*16
              +(strpos('0123456789abcdef', substr(h,4,1))-1)) % 32 AS bucket,
              CASE WHEN ((strpos('0123456789abcdef', substr(h,5,1))-1) & 1) = 1
                   THEN -1 ELSE 1 END AS s
            FROM th),
      sp AS MATERIALIZED (SELECT doc_id, bucket, sum(s) AS w FROM f GROUP BY doc_id, bucket)"""

  private val sparseDistances = s"""$sparseSp,
      n2 AS MATERIALIZED (SELECT doc_id, sum(w*w) AS n2 FROM sp GROUP BY doc_id),
      dots AS MATERIALIZED (SELECT qs.doc_id AS query_id, vs.doc_id AS vec_id,
                      sum(qs.w * vs.w) AS dot
               FROM sp qs JOIN sp vs ON qs.bucket = vs.bucket
               WHERE qs.doc_id < 3 GROUP BY qs.doc_id, vs.doc_id)"""

  val textKnnExact = Q(
    "text_knn_exact",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(hasTokens).select(col("doc_id"), col("text"))
      val vecs = graft.embed.Md5CountEmbedder().embed(docs, "text", "embedding")
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val queries = vecs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimSearch.exactTopK(queries, vecs, k = 5)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("query_id", "vec_id")
    },
    Some(s"""$sparseDistances,
      pairs AS (SELECT q.doc_id AS query_id, d.doc_id AS vec_id,
                       qn.n2 + dn.n2 - 2*coalesce(t.dot, 0) AS dist
                FROM (SELECT doc_id FROM documents WHERE doc_id < 3) q
                CROSS JOIN (SELECT doc_id FROM documents) d
                JOIN n2 qn ON qn.doc_id = q.doc_id
                JOIN n2 dn ON dn.doc_id = d.doc_id
                LEFT JOIN dots t ON t.query_id = q.doc_id AND t.vec_id = d.doc_id)
      SELECT query_id, vec_id, CAST(dist AS BIGINT) AS dist
      FROM pairs
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= 5
      ORDER BY query_id, vec_id"""))

  /** Exact-norm twin of [[embedNorm]]: under the md5-count embedder the
    * squared norm is an integer, so the Spark side folds the DENSE vector
    * while the oracle sums w² in the sparse domain — the norm contract
    * hash-checked instead of rows-only. */
  val embedNormExact = Q(
    "embed_norm_exact",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(hasTokens).select(col("doc_id"), col("text"))
      graft.embed.Md5CountEmbedder().embed(docs, "text", "embedding")
        .select(col("doc_id"), size(col("embedding")).as("dim"),
          aggregate(Distances.asDouble(col("embedding")), lit(0.0),
            (a, x) => a + x * x).cast("long").as("n2"))
        .orderBy("doc_id")
    },
    Some(s"""$sparseDistances
      SELECT doc_id, CAST(32 AS INT) AS dim, CAST(n2 AS BIGINT) AS n2
      FROM n2 ORDER BY doc_id"""))

  /** Embedding contract probe: every produced vector is 384-d unit-norm
    * (or the zero vector for empty text). */
  val embedNorm = Q(
    "embed_norm_check",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      embedder.embed(docs, "text", "embedding")
        .select(
          col("doc_id"),
          size(col("embedding")).as("dim"),
          round(sqrt(aggregate(
            Distances.asDouble(col("embedding")),
            lit(0.0), (acc, x) => acc + x * x)), 2).as("norm"))
        .orderBy("doc_id")
    },
    None)

  /** Per-JVM document engine INSTANCE: the full D8 path (embed → insert)
    * run once. The instance is cached (not the path) so the model
    * stamp-cache and forest broadcast cache persist across executions. */
  object DocEngineCache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String): ZebraEngine =
      Scratch.cached("doc_engine", dir) { p =>
        val eng = ZebraEngine.create(
          s, p, EngineConfig(dim = embedder.dim, metric = "cosine"))
        val docs = Tables.documents(s, dir)
          .select(
            format_string("d%06d", col("doc_id")).as("id"),
            col("text").cast("binary").as("document"))
        eng.insertDocuments(docs, embedder)
        // index the corpus: doc queries then run the COMPLETE reference
        // stack (embed -> forest probe -> rerank -> document fetch)
        eng.refreshIndex()
        eng
      }
  }

  /** D8+D10 end-to-end: documents inserted through `insert_documents`
    * (embed → store), queried back as raw text through `query_documents`
    * (embed → kNN → document fetch). Each query's top hit is itself. */
  val docRoundtrip = Q(
    "doc_knn_engine",
    (s, dir) => {
      val eng = DocEngineCache.ensure(s, dir)
      val queries = Tables.documents(s, dir).filter(col("doc_id") < 3)
        .select(
          col("doc_id").as("query_id"),
          col("text").cast("binary").as("document"))
      eng.queryDocuments(queries, embedder, k = 3)
        .select(col("query_id"), col("id"),
          col("dist"), length(col("document")).as("doc_len"))
        .orderBy("query_id", "id")
    },
    None)

  /** Per-JVM engine INSTANCE over the md5-count embedder (32-d, l2sq) —
    * the oracle-twin sibling of [[DocEngineCache]]. */
  object DocEngineMd5Cache {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String): ZebraEngine =
      Scratch.cached("doc_engine_md5", dir) { p =>
        val twin = graft.embed.Md5CountEmbedder()
        val eng = ZebraEngine.create(
          s, p, EngineConfig(dim = twin.dim, metric = "l2sq"))
        val docs = Tables.documents(s, dir)
          .filter(hasTokens)
          .select(
            format_string("d%06d", col("doc_id")).as("id"),
            col("text").cast("binary").as("document"))
        eng.insertDocuments(docs, twin)
        eng.refreshIndex()
        eng
      }
  }

  /** The COMPLETE reference stack — D8 insert_documents (embed → store →
    * index) then D10 query_documents (embed → forest probe → rerank →
    * document fetch) — under the md5-count twin embedder at exhaustive
    * budget, so the RNG-built forest degenerates to exact kNN and DuckDB
    * can hash-check the whole path: the only engine surface that was
    * gated rows-only (doc_knn_engine) now has a deterministic twin. */
  val docKnnExact = Q(
    "doc_knn_exact_budget",
    (s, dir) => {
      val eng = DocEngineMd5Cache.ensure(s, dir)
      val twin = graft.embed.Md5CountEmbedder()
      val queries = Tables.documents(s, dir)
        .filter(col("doc_id") < 3 && hasTokens)
        .select(
          col("doc_id").as("query_id"),
          col("text").cast("binary").as("document"))
      eng.queryDocuments(queries, twin, k = 3, searchK = Some(Int.MaxValue))
        .select(
          col("query_id"), col("id"), col("dist").cast("long").as("dist"),
          length(col("document")).as("doc_len"))
        .orderBy("query_id", "id")
    },
    Some(s"""$sparseDistances,
      pairs AS (SELECT q.doc_id AS query_id, printf('d%06d', d.doc_id) AS id,
                       qn.n2 + dn.n2 - 2*coalesce(t.dot, 0) AS dist,
                       strlen(d.text) AS doc_len
                FROM (SELECT doc_id FROM documents WHERE doc_id < 3) q
                CROSS JOIN (SELECT doc_id, text FROM documents) d
                JOIN n2 qn ON qn.doc_id = q.doc_id
                JOIN n2 dn ON dn.doc_id = d.doc_id
                LEFT JOIN dots t ON t.query_id = q.doc_id AND t.vec_id = d.doc_id)
      SELECT query_id, id, CAST(dist AS BIGINT) AS dist,
             CAST(doc_len AS INT) AS doc_len
      FROM pairs
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, id) <= 3
      ORDER BY query_id, id"""))

  /** The composed RAG retrieval pipeline — chunk → embed → retrieve →
    * parent-doc rank — as ONE hash-checked entry: documents are split
    * into 32-token/stride-24 windows ([[graft.ops.Curation.chunkDocs]]),
    * each chunk embedded with the md5 integer-count twin, the top-5
    * chunks per query retrieved by exact kNN, and the hit list rolled up
    * to ranked parent documents (min chunk distance, top-3). The DuckDB
    * oracle replays chunking in the array domain and retrieval in the
    * SPARSE domain (‖q‖² + ‖c‖² − 2·q·c bucket join) — every stage of the
    * composition must agree for the hash to land. Scale shape: chunking
    * and embedding are zero-shuffle maps, retrieval is the broadcast-
    * queries exact plan, the rollup groups ≤ 5 rows per query. */
  val ragPipeline = Q(
    "doc_pipeline_rag",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .filter(hasTokens).select(col("doc_id"), col("text"))
      val chunks = graft.ops.Curation
        .chunkDocs(docs, chunkSize = 32, stride = 24, keepText = true)
        .filter(col("n_tok") >= 1)
        // vec_id = doc_id*1e6 + chunk_id assumes chunk_id < 1e6 (a doc of
        // ~24M tokens at stride 24); enforce it in-plan so a violation
        // fails loudly instead of silently colliding with the next doc.
        .select((col("doc_id") * 1000000 +
          when(col("chunk_id") < 1000000, col("chunk_id"))
            .otherwise(raise_error(
              lit("chunk_id >= 1e6 breaks the vec_id encoding"))))
          .as("vec_id"),
          col("chunk_text"))
      val cvecs = graft.embed.Md5CountEmbedder()
        .embed(chunks, "chunk_text", "embedding")
        .select(col("vec_id"), col("embedding"))
      val queries = graft.embed.Md5CountEmbedder()
        .embed(docs.filter(col("doc_id") < 3), "text", "embedding")
        .select(col("doc_id").as("query_id"), col("embedding"))
      val hits = SimSearch.exactTopK(queries, cvecs, k = 5)
        .withColumn("dist", col("dist").cast("long"))
      hits
        .withColumn("doc_id", expr("vec_id div 1000000"))
        .groupBy("query_id", "doc_id")
        .agg(min("dist").as("best_dist"), count(lit(1)).as("n_chunks"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy("best_dist", "doc_id"))
          .cast("long"))
        .filter(col("rk") <= 3)
        .orderBy("query_id", "rk")
    },
    Some("""
      WITH qt AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents WHERE doc_id < 3),
      qh AS (SELECT doc_id, md5(tok) AS h FROM qt WHERE tok <> ''),
      qf AS (SELECT doc_id,
               ((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
               +(strpos('0123456789abcdef', substr(h,2,1))-1)*256
               +(strpos('0123456789abcdef', substr(h,3,1))-1)*16
               +(strpos('0123456789abcdef', substr(h,4,1))-1)) % 32 AS bucket,
               CASE WHEN ((strpos('0123456789abcdef', substr(h,5,1))-1) & 1) = 1
                    THEN -1 ELSE 1 END AS s
             FROM qh),
      qsp AS (SELECT doc_id, bucket, sum(s) AS w FROM qf GROUP BY doc_id, bucket),
      qn2 AS (SELECT doc_id, sum(w*w) AS n2 FROM qsp GROUP BY doc_id),
      tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             FROM documents),
      sized AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM tk),
      counted AS (SELECT doc_id, toks,
                         CASE WHEN n <= 32 THEN 1
                              ELSE 1 + ((n - 32 + 23) // 24) END AS n_chunks
                  FROM sized),
      chunks AS (SELECT doc_id, toks, unnest(range(0, n_chunks))::BIGINT AS chunk_id
                 FROM counted),
      ct AS (SELECT doc_id * 1000000 + chunk_id AS vec_id,
                    unnest(toks[(chunk_id*24+1):(chunk_id*24+32)]) AS tok
             FROM chunks
             WHERE len(toks[(chunk_id*24+1):(chunk_id*24+32)]) >= 1),
      ch AS (SELECT vec_id, md5(tok) AS h FROM ct WHERE tok <> ''),
      cf AS (SELECT vec_id,
               ((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
               +(strpos('0123456789abcdef', substr(h,2,1))-1)*256
               +(strpos('0123456789abcdef', substr(h,3,1))-1)*16
               +(strpos('0123456789abcdef', substr(h,4,1))-1)) % 32 AS bucket,
               CASE WHEN ((strpos('0123456789abcdef', substr(h,5,1))-1) & 1) = 1
                    THEN -1 ELSE 1 END AS s
             FROM ch),
      csp AS (SELECT vec_id, bucket, sum(s) AS w FROM cf GROUP BY vec_id, bucket),
      cn2 AS (SELECT vec_id, sum(w*w) AS n2 FROM csp GROUP BY vec_id),
      dots AS (SELECT q.doc_id AS query_id, c.vec_id, sum(q.w * c.w) AS dot
               FROM qsp q JOIN csp c ON q.bucket = c.bucket
               GROUP BY q.doc_id, c.vec_id),
      pairs AS (SELECT qq.doc_id AS query_id, cc.vec_id,
                       qq.n2 + cc.n2 - 2*coalesce(d.dot, 0) AS dist
                FROM qn2 qq
                CROSS JOIN cn2 cc
                LEFT JOIN dots d ON d.query_id = qq.doc_id
                                AND d.vec_id = cc.vec_id),
      top5 AS (SELECT query_id, vec_id, dist FROM pairs
               QUALIFY row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist, vec_id) <= 5),
      agg AS (SELECT query_id, vec_id // 1000000 AS doc_id,
                     min(dist)::BIGINT AS best_dist,
                     count(*)::BIGINT AS n_chunks
              FROM top5 GROUP BY query_id, vec_id // 1000000)
      SELECT query_id, doc_id, best_dist, n_chunks, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY best_dist, doc_id)::BIGINT AS rk
        FROM agg)
      WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** Distributed exact-integer k-means over the md5-count embeddings
    * ([[graft.ops.KMeansInt]]): k = 4, 3 Lloyd rounds, corpus-scale
    * assignment. Integer distances + floor-div centroid updates +
    * smallest-id tie-breaks make the fixpoint bit-identical, so the
    * oracle replays all three rounds as unrolled CTEs generated by the
    * same code — the clustering analogue of graph_pagerank's gate. */
  /** The md5-count embedding of the token-bearing documents — the input
    * every integer-exact clustering/dedup/cartography entry shares. */
  private[catalog] def md5Vectors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(hasTokens).select(col("doc_id"), col("text"))
    graft.embed.Md5CountEmbedder().embed(docs, "text", "embedding")
      .select(col("doc_id"), col("embedding"))
  }

  /** Per-JVM cache of the k=4/iters=3 [[graft.ops.KMeansInt]] fit over
    * [[md5Vectors]]: cluster_kmeans_int, the SemDeDup pair scan and the
    * cluster-cartography report all consume the SAME assignment, so the
    * three-collect Lloyd loop runs once per fixture dir (the
    * NearDupCache/KnnJoinCache pattern). */
  private[catalog] object KmAssignCache {
    def assign(s: SparkSession, dir: String): DataFrame =
      Scratch.parquet(s, "kmassign", dir)(
        graft.ops.KMeansInt.fitAssign(md5Vectors(s, dir), k = 4, iters = 3))
  }

  val kmeansCluster = Q(
    "cluster_kmeans_int",
    (s, dir) => KmAssignCache.assign(s, dir).orderBy("doc_id"),
    Some(s"""$sparseSp,
      ${graft.ops.KMeansInt.oracleSql(k = 4, iters = 3, dim = 32)}
      SELECT doc_id, cluster::BIGINT AS cluster, dist2::BIGINT AS dist2
      FROM fin ORDER BY doc_id"""))

  /** Dataset cartography: per-cluster top terms — "what is each region of
    * the corpus about". Tokens of each cluster's documents ranked by an
    * integer tf·rarity score (cluster_tf·10⁶ // corpus_df — truncating
    * integer division, exact on both engines), top 3 per cluster with an
    * alphabetical tie-break. The composition k-means → token stats →
    * windowed top-k is the cluster-inspection pass a data-mixing pipeline
    * runs before choosing sampling weights; every step shuffles on
    * (cluster, token) or token — linear in corpus token count, never
    * per-pair. */
  val clusterTopTerms = Q(
    "cluster_top_terms",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), " "), t => t =!= lit("")))
            .as("tok"))
      val df = toks.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df"))
      val ctf = toks
        .join(KmAssignCache.assign(s, dir).select(col("doc_id"), col("cluster")),
          "doc_id")
        .groupBy("cluster", "tok").agg(count(lit(1)).as("tf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster")
        .orderBy(col("score").desc, col("tok"))
      ctf.join(df, "tok")
        // `div`, not `/`: Spark `/` on integers yields DOUBLE; `div` is
        // the truncating integer division that matches DuckDB `//` here
        // (both operands positive)
        .withColumn("score", expr("tf * 1000000L div df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("cluster"), col("rk"), col("tok"), col("tf"),
          col("df"), col("score"))
        .orderBy("cluster", "rk")
    },
    Some(s"""$sparseSp,
      ${graft.ops.KMeansInt.oracleSql(k = 4, iters = 3, dim = 32)},
      tk AS MATERIALIZED (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      dfr AS MATERIALIZED (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok),
      ctf AS MATERIALIZED (SELECT f.cluster, t.tok, count(*) AS tf
              FROM tk t JOIN fin f ON f.doc_id = t.doc_id
              GROUP BY f.cluster, t.tok),
      scored AS MATERIALIZED (SELECT c.cluster, c.tok, c.tf, d.df,
                        c.tf * 1000000 // d.df AS score
                 FROM ctf c JOIN dfr d ON d.tok = c.tok)
      SELECT cluster::BIGINT AS cluster, rk, tok, tf::BIGINT AS tf,
             df::BIGINT AS df, score::BIGINT AS score
      FROM (SELECT *, row_number() OVER (PARTITION BY cluster
                        ORDER BY score DESC, tok)::BIGINT AS rk
            FROM scored)
      WHERE rk <= 3 ORDER BY cluster, rk"""))

  /** Greedy k-center DIVERSE core-set selection over the md5-count
    * embeddings ([[graft.ops.KCenter]]): 8 farthest-point picks, full
    * corpus assignment to the nearest pick. The diversity dual of
    * cluster_kmeans_int's density centers — outlier regions get a
    * guaranteed seat, which is what a coverage-stratified inspection or
    * eval-set draw needs. Integer distances + smallest-id tie-breaks make
    * the traversal bit-identical, so the oracle replays all 8 selections
    * as unrolled CTEs generated by the same code: the selection ITSELF is
    * inside the hash gate, not just the final assignment. */
  val kcenterDiverse = Q(
    "sample_kcenter_diverse",
    (s, dir) => graft.ops.KCenter.selectAssign(md5Vectors(s, dir), k = 8)
      .orderBy("doc_id"),
    Some(s"""$sparseSp,
      ${graft.ops.KCenter.oracleSql(k = 8)}
      SELECT doc_id, center_id::BIGINT AS center_id,
             center_order::BIGINT AS center_order, dist2::BIGINT AS dist2
      FROM fin ORDER BY doc_id"""))

  /** The Walsh–Hadamard rotation KERNEL, hash-gated ([[graft.ops.Rotation]]
    * — the zero-parameter OPQ rotation the PQ family can pre-compose; its
    * recall effect is the `ann_pq_rot_gain_at10` observable): every
    * rotated component of every md5-count vector, `y_i = Σ_j
    * (-1)^popcount(i AND j) · x_j`, exact integers end to end. The JVM
    * side runs the O(d log d) butterfly; the oracle replays the DEFINITION
    * as a d×d bit_count sum over the sparse relation — two independent
    * derivations of the same transform, so a butterfly-ordering bug (the
    * classic FWHT mistake) flips the hash. */
  val rotHadamard = Q(
    "vec_rot_hadamard",
    (s, dir) =>
      md5Vectors(s, dir)
        .select(col("doc_id"),
          posexplode(graft.ops.Rotation.rotateUdf(col("embedding")))
            .as(Seq("i", "y")))
        .select(col("doc_id"), col("i").cast("long").as("i"),
          col("y").cast("long").as("y"))
        .orderBy("doc_id", "i"),
    Some(s"""$sparseSp,
      grid AS (SELECT unnest(range(0, 32)) AS i),
      rot AS (SELECT s.doc_id, g.i,
                     sum(CASE WHEN bit_count(g.i & s.bucket) % 2 = 1
                              THEN -s.w ELSE s.w END)::BIGINT AS y
              FROM sp s CROSS JOIN grid g
              GROUP BY s.doc_id, g.i)
      SELECT doc_id, i::BIGINT AS i, y FROM rot ORDER BY doc_id, i"""))

  /** The engine BUILD cost as its own timed line (round-8 verdict: the
    * one-time `ensure` inside doc_knn_exact_budget's first execution read
    * as a 15× serving regression — serving and build belong on separate
    * bench lines). Each execution is a COLD full build: create →
    * insert_documents (embed + store) → refreshIndex over the dir's
    * whole documents table, into a fresh throwaway path that no serving
    * entry shares and that the execution destroys — so bench's
    * min-of-rounds times a genuine rebuild, while the serving entries
    * keep hitting their per-JVM warm caches. Returns the indexed corpus
    * size, which DuckDB hash-checks. */
  val engineBuildDocs = Q(
    "engine_build_docs",
    (s, dir) => {
      val twin = graft.embed.Md5CountEmbedder()
      val p = Scratch.dir("engine_build_docs")
      val n = try {
        val eng = ZebraEngine.create(
          s, p, EngineConfig(dim = twin.dim, metric = "l2sq"))
        eng.insertDocuments(
          Tables.documents(s, dir)
            .filter(hasTokens)
            .select(
              format_string("d%06d", col("doc_id")).as("id"),
              col("text").cast("binary").as("document")),
          twin)
        eng.refreshIndex()
        eng.count()
      } finally ZebraEngine.destroy(p)
      import s.implicits._
      Seq(n).toDF("n_indexed")
    },
    Some("""
      SELECT count(*)::BIGINT AS n_indexed FROM documents
      WHERE len(list_filter(string_split(lower(text), ' '),
                            t -> t <> '')) > 0"""))

  /** Integer-exact top principal component ([[graft.ops.Pca]]): 24
    * max-norm power steps over the exact scaled covariance, plus the
    * Rayleigh variance share in basis points — the energy-concentration
    * diagnostic behind rotation/compression decisions. The oracle replays
    * the identical recurrence as unrolled CTEs; Spark's corpus pass is a
    * one-shot typed Aggregator (the oracle's 64² pair join would be a
    * 4096× blow-up at scale). */
  val pcaTop = Q(
    "embed_pca_top",
    (s, dir) => graft.ops.Pca.topComponent(
      Tables.embeddings(s, dir).select("embedding")),
    Some(s"""
      WITH q AS MATERIALIZED (
        SELECT vec_id, g.i,
               CAST(floor(embedding[g.i + 1]::DOUBLE * 10000) AS BIGINT) AS q
        FROM embeddings, generate_series(0, 63) g(i)),
      ${graft.ops.Pca.oracleSql(64, 24)}
      SELECT t.i::BIGINT AS dim_idx, t.v::BIGINT AS v_bp,
             ((SELECT vtcv FROM ray) * 10000 // (SELECT vtv FROM ray)
               // (SELECT tr FROM ray))::BIGINT AS share_bp
      FROM it24 t ORDER BY dim_idx"""))

  /** Corpus histogram along [[pcaTop]]'s component
    * ([[graft.ops.Pca.projectHistogram]]): exact integer projections,
    * offset floor-division buckets (engine-agnostic on negatives). The
    * oracle recomputes the identical iterate and joins it back to the
    * quantized components — one hash pins the direction AND the corpus
    * distribution along it. */
  val pcaProject = Q(
    "embed_pca_project",
    (s, dir) => graft.ops.Pca.projectHistogram(
      Tables.embeddings(s, dir).select("embedding")),
    Some(s"""
      WITH q AS MATERIALIZED (
        SELECT vec_id, g.i,
               CAST(floor(embedding[g.i + 1]::DOUBLE * 10000) AS BIGINT) AS q
        FROM embeddings, generate_series(0, 63) g(i)),
      ${graft.ops.Pca.oracleSql(64, 24)},
      proj AS (SELECT q.vec_id, sum(q.q * p.v)::BIGINT AS pr
               FROM q JOIN it24 p ON p.i = q.i GROUP BY q.vec_id)
      SELECT (pr // 100000000)::BIGINT AS bucket,
             count(*)::BIGINT AS n_docs
      FROM proj GROUP BY 1 ORDER BY bucket"""))

  def qs: Seq[Q] = Seq(
    textKnn, textKnnExact, embedNorm, embedNormExact, docRoundtrip,
    docKnnExact, ragPipeline, kmeansCluster, clusterTopTerms,
    kcenterDiverse, rotHadamard, pcaTop, pcaProject, engineBuildDocs)
}
