package graft.catalog

import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.Tables
import graft.functions.Distances
import graft.ops.{Retrieval, TopK}

/** Catalog twins for the retrieval library surface (`ops/Retrieval.scala`):
  * BM25 full-text top-k and hybrid lexical+vector search via
  * reciprocal-rank fusion, both DuckDB-hash-gated. Design and determinism
  * notes live on the ops object; the fixed query here uses mid-frequency
  * fixture terms so document frequency varies across terms. */
object RetrievalQueries {

  private val terms = Seq("spark", "join", "window")
  private def termsSql = terms.map(t => s"'$t'").mkString(", ")

  private val bm25ScoresSql = s"""
      dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
             FROM documents),
      stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
                FROM dl),
      tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             FROM (SELECT doc_id,
                          unnest(string_split(lower(text), ' ')) AS word
                   FROM documents)
             WHERE word IN ($termsSql) GROUP BY doc_id, word),
      df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
      term AS (SELECT tf.doc_id,
                      floor((s.n_docs + 1)::DOUBLE / (df.df + 1)
                            * (22.0 * tf.tf * s.sum_dl)
                            / (10.0 * tf.tf * s.sum_dl + 3.0 * s.sum_dl
                               + 9.0 * dl.dl * s.n_docs)
                            * 1e4)::BIGINT AS t4
               FROM tf JOIN df USING (word) JOIN dl USING (doc_id), stats s),
      sc AS (SELECT doc_id, sum(t4)::BIGINT AS bm25_1e4
             FROM term GROUP BY doc_id)"""

  /** BM25 top-10: the "search the corpus for a phrase" primitive. */
  val bm25 = Q(
    "text_bm25_topk",
    (s, dir) =>
      Retrieval.bm25TopK[Long](Tables.documents(s, dir), terms, 10).orderBy("rk"),
    Some(s"""
      WITH $bm25ScoresSql
      SELECT doc_id, bm25_1e4, rk
      FROM (SELECT doc_id, bm25_1e4,
                   row_number() OVER (ORDER BY bm25_1e4 DESC, doc_id)::BIGINT
                     AS rk
            FROM sc)
      WHERE rk <= 10 ORDER BY rk"""))

  /** BM25 served from the MAINTAINED inverted index, in the correctness
    * gate: the documents table replayed through an in-memory stream in 4
    * doc_id-ordered chunks, each micro-batch APPENDING its postings epoch
    * (`Retrieval.maintainPostings` — per-epoch work is tokenizing the
    * batch, nothing existing rewritten; every BM25 statistic is additive
    * so dl/df/N/S derive from the union of epochs), then the SAME query
    * as `text_bm25_topk` answered from the store. Hash-gated against the
    * batch entry's exact oracle — the continuously-maintained index must
    * rank identically to a from-scratch rebuild. */
  val bm25StreamExec = Q(
    "stream_bm25_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .as[(Long, String)], "stream_bm25_exec")
        .sortBy(_._1)
      val root = StreamFeed.replay(s, "stream_bm25_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        Retrieval.maintainPostings(in.toDF("doc_id", "text"),
          s"${run.dir}/store", s"${run.dir}/ckpt")
      }.dir
      Retrieval.bm25TopKFromPostings[Long](
        Retrieval.currentPostings(s, s"$root/store").get, terms, 10)
        .orderBy("rk")
    },
    Some(s"""
      WITH $bm25ScoresSql
      SELECT doc_id, bm25_1e4, rk
      FROM (SELECT doc_id, bm25_1e4,
                   row_number() OVER (ORDER BY bm25_1e4 DESC, doc_id)::BIGINT
                     AS rk
            FROM sc)
      WHERE rk <= 10 ORDER BY rk"""))

  /** Hybrid search: RRF over the top-100 of each leg — the BM25 ranking and
    * the exact-cosine vector ranking for query vec_id=0 (documents and
    * embeddings share ids in the fixture). Fuses bounded retrieved sets
    * exactly as a production hybrid retriever does; absent legs display
    * rank 0 and contribute nothing. */
  val hybridRrf = Q(
    "hybrid_rrf_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      // Same trunc-4 cosine as dist_cosine / knn_exact_cosine (hash-green);
      // ties in the quantized distance break on id inside TopKAgg.
      val dist = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          Distances.trunc4NonNeg(
            Distances.Cosine(Distances.asDouble(col("embedding")),
              Distances.asDouble(col("qe")))).as("dist"))
      val vecTop = dist.groupBy()
        .agg(TopK.topk[Long](100, col("dist"), col("doc_id")).as("t"))
        .select(posexplode(col("t")))
        .select(col("col.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("rk"))
      val lexTop = Retrieval.bm25TopK[Long](Tables.documents(s, dir), terms, 100)
        .select(col("doc_id"), col("rk"))
      val fused = Retrieval.rrfFuse(Seq("bm25" -> lexTop, "vec" -> vecTop))
      // ≤ 200 fused rows by construction — a window here is bounded.
      val wf = org.apache.spark.sql.expressions.Window
        .orderBy(col("rrf_1e6").desc, col("doc_id"))
      fused.withColumn("rk", row_number().over(wf).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("r_bm25"), col("r_vec"),
          col("rrf_1e6"), col("rk"))
        .orderBy("rk")
    },
    Some(s"""
      WITH $bm25ScoresSql,
      lex AS (SELECT doc_id, r_bm25
              FROM (SELECT doc_id,
                           row_number() OVER (ORDER BY bm25_1e4 DESC, doc_id)::BIGINT
                             AS r_bm25
                    FROM sc)
              WHERE r_bm25 <= 100),
      d AS (SELECT a.vec_id,
                   floor(greatest(0, 1 - sum(a.embedding[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)
                         / (sqrt(sum(a.embedding[t.i]::DOUBLE * a.embedding[t.i]::DOUBLE ORDER BY t.i))
                            * sqrt(sum(q.qe[t.i]::DOUBLE * q.qe[t.i]::DOUBLE ORDER BY t.i)))) * 1e4) / 1e4
                     AS dist
            FROM embeddings a,
                 (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q,
                 generate_series(1, 64) t(i)
            GROUP BY a.vec_id),
      vec AS (SELECT doc_id, r_vec
              FROM (SELECT vec_id AS doc_id,
                           row_number() OVER (ORDER BY dist, vec_id)::BIGINT
                             AS r_vec
                    FROM d)
              WHERE r_vec <= 100),
      fused AS (SELECT coalesce(v.doc_id, l.doc_id) AS doc_id,
                       coalesce(l.r_bm25, 0)::BIGINT AS r_bm25,
                       coalesce(v.r_vec, 0)::BIGINT AS r_vec,
                       (CASE WHEN v.r_vec IS NULL THEN 0
                             ELSE 1000000 // (60 + v.r_vec) END
                        + CASE WHEN l.r_bm25 IS NULL THEN 0
                               ELSE 1000000 // (60 + l.r_bm25) END)::BIGINT
                         AS rrf_1e6
                FROM vec v FULL OUTER JOIN lex l ON l.doc_id = v.doc_id)
      SELECT doc_id, r_bm25, r_vec, rrf_1e6, rk
      FROM (SELECT *, row_number() OVER (ORDER BY rrf_1e6 DESC, doc_id)::BIGINT
                        AS rk
            FROM fused)
      WHERE rk <= 10 ORDER BY rk"""))

  /** ENGINE-level hybrid retrieval (ZebraEngine.queryHybrid) under the
    * md5-count twin embedder at exhaustive budget, so every stage is
    * deterministic and the WHOLE engine composition — stored binary docs →
    * BM25 leg over the decoded text → exact vector leg over the twin
    * embeddings → integer RRF fusion — lands on one DuckDB hash. The
    * oracle rebuilds both legs from scratch: bm25 over the engine corpus
    * (docs with ≥1 token), the sparse md5 chain with the query phrase
    * injected as doc_id −1, and the same 1e6 div (60+rank) fusion. */
  val engineHybrid = Q(
    "engine_hybrid_exact",
    (s, dir) => {
      val eng = EmbedQueries.DocEngineMd5Cache.ensure(s, dir)
      val twin = graft.embed.Md5CountEmbedder()
      eng.queryHybrid(terms.mkString(" "), twin, k = 10, legK = 100,
          searchK = Some(Int.MaxValue))
        .orderBy(col("rrf_1e6").desc, col("id"))
    },
    Some(s"""
      WITH corp AS (SELECT doc_id, text FROM documents
                    WHERE len(list_filter(string_split(lower(text), ' '),
                                          t -> t <> '')) > 0),
      dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
             FROM corp),
      stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
                FROM dl),
      tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             FROM (SELECT doc_id,
                          unnest(string_split(lower(text), ' ')) AS word
                   FROM corp)
             WHERE word IN ($termsSql) GROUP BY doc_id, word),
      df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
      term AS (SELECT tf.doc_id,
                      floor((s.n_docs + 1)::DOUBLE / (df.df + 1)
                            * (22.0 * tf.tf * s.sum_dl)
                            / (10.0 * tf.tf * s.sum_dl + 3.0 * s.sum_dl
                               + 9.0 * dl.dl * s.n_docs)
                            * 1e4)::BIGINT AS t4
               FROM tf JOIN df USING (word) JOIN dl USING (doc_id), stats s),
      sc AS (SELECT doc_id, sum(t4)::BIGINT AS bm25_1e4
             FROM term GROUP BY doc_id),
      lex AS (SELECT doc_id, r_lex
              FROM (SELECT doc_id,
                           row_number() OVER (ORDER BY bm25_1e4 DESC, doc_id)::BIGINT
                             AS r_lex
                    FROM sc)
              WHERE r_lex <= 100),
      src AS (SELECT doc_id, text FROM corp
              UNION ALL SELECT -1, '${terms.mkString(" ")}'),
      toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM src),
      th AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
      f AS (SELECT doc_id,
              ((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
              +(strpos('0123456789abcdef', substr(h,2,1))-1)*256
              +(strpos('0123456789abcdef', substr(h,3,1))-1)*16
              +(strpos('0123456789abcdef', substr(h,4,1))-1)) % 32 AS bucket,
              CASE WHEN ((strpos('0123456789abcdef', substr(h,5,1))-1) & 1) = 1
                   THEN -1 ELSE 1 END AS s
            FROM th),
      sp AS (SELECT doc_id, bucket, sum(s) AS w FROM f GROUP BY doc_id, bucket),
      n2 AS (SELECT doc_id, sum(w*w) AS n2 FROM sp GROUP BY doc_id),
      dots AS (SELECT vs.doc_id AS vec_id, sum(qs.w * vs.w) AS dot
               FROM sp qs JOIN sp vs ON qs.bucket = vs.bucket
               WHERE qs.doc_id = -1 AND vs.doc_id <> -1
               GROUP BY vs.doc_id),
      vdist AS (SELECT c.doc_id,
                       qn.n2 + dn.n2 - 2*coalesce(t.dot, 0) AS dist
                FROM corp c
                JOIN n2 dn ON dn.doc_id = c.doc_id
                CROSS JOIN (SELECT n2 FROM n2 WHERE doc_id = -1) qn(n2)
                LEFT JOIN dots t ON t.vec_id = c.doc_id),
      vec AS (SELECT doc_id, r_vec
              FROM (SELECT doc_id,
                           row_number() OVER (ORDER BY dist, doc_id)::BIGINT
                             AS r_vec
                    FROM vdist)
              WHERE r_vec <= 100),
      ids AS (SELECT doc_id FROM lex UNION SELECT doc_id FROM vec),
      fused AS (SELECT i.doc_id,
                       coalesce(v.r_vec, 0)::BIGINT AS r_vec,
                       coalesce(l.r_lex, 0)::BIGINT AS r_lex,
                       (CASE WHEN v.r_vec IS NULL THEN 0
                             ELSE 1000000 // (60 + v.r_vec) END
                        + CASE WHEN l.r_lex IS NULL THEN 0
                               ELSE 1000000 // (60 + l.r_lex) END)::BIGINT
                         AS rrf_1e6
                FROM ids i
                LEFT JOIN vec v USING (doc_id)
                LEFT JOIN lex l USING (doc_id))
      SELECT printf('d%06d', doc_id) AS id, r_vec, r_lex, rrf_1e6
      FROM (SELECT *, row_number() OVER (ORDER BY rrf_1e6 DESC, doc_id) AS rn
            FROM fused)
      WHERE rn <= 10
      ORDER BY rrf_1e6 DESC, id"""))

  /** Shared oracle generator for the engine hybrid entries: rebuilds the
    * ENTIRE hybrid path in DuckDB for a batch of queries — BM25 over the
    * engine corpus (docs with ≥1 token, optionally narrowed by
    * `corpExtra`, the SQL twin of the engine's `where=` predicate), the
    * md5 sparse-count vector leg, and integer RRF fusion — partitioned by
    * query_id. Corpus statistics (dl, df, N) are those of the FILTERED
    * corpus, mirroring queryHybridBatch's algebra (the predicate narrows
    * the stored-records frame before BOTH legs). */
  private def engineHybridOracle(
      queries: Seq[(Int, String)], corpExtra: String,
      selectQueryId: Boolean): String = {
    val valuesSql = queries
      .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    val head = if (selectQueryId) "query_id::BIGINT AS query_id, " else ""
    s"""
      WITH corp AS (SELECT doc_id, text FROM documents
                    WHERE len(list_filter(string_split(lower(text), ' '),
                                          t -> t <> '')) > 0 $corpExtra),
      qs(query_id, query_text) AS (VALUES $valuesSql),
      qt AS (SELECT DISTINCT query_id,
                    unnest(string_split(lower(query_text), ' ')) AS word
             FROM qs),
      dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
             FROM corp),
      stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
                FROM dl),
      tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             FROM (SELECT doc_id,
                          unnest(string_split(lower(text), ' ')) AS word
                   FROM corp)
             WHERE word IN (SELECT word FROM qt) GROUP BY doc_id, word),
      df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
      term AS (SELECT qt.query_id, tf.doc_id,
                      floor((s.n_docs + 1)::DOUBLE / (df.df + 1)
                            * (22.0 * tf.tf * s.sum_dl)
                            / (10.0 * tf.tf * s.sum_dl + 3.0 * s.sum_dl
                               + 9.0 * dl.dl * s.n_docs)
                            * 1e4)::BIGINT AS t4
               FROM tf JOIN df USING (word) JOIN qt USING (word)
                       JOIN dl USING (doc_id), stats s),
      sc AS (SELECT query_id, doc_id, sum(t4)::BIGINT AS bm25_1e4
             FROM term GROUP BY query_id, doc_id),
      lex AS (SELECT query_id, doc_id, r_lex
              FROM (SELECT query_id, doc_id,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY bm25_1e4 DESC, doc_id)::BIGINT AS r_lex
                    FROM sc)
              WHERE r_lex <= 100),
      toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM corp),
      th AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
      f AS (SELECT doc_id,
              ((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
              +(strpos('0123456789abcdef', substr(h,2,1))-1)*256
              +(strpos('0123456789abcdef', substr(h,3,1))-1)*16
              +(strpos('0123456789abcdef', substr(h,4,1))-1)) % 32 AS bucket,
              CASE WHEN ((strpos('0123456789abcdef', substr(h,5,1))-1) & 1) = 1
                   THEN -1 ELSE 1 END AS s
            FROM th),
      sp AS (SELECT doc_id, bucket, sum(s) AS w FROM f GROUP BY doc_id, bucket),
      n2 AS (SELECT doc_id, sum(w*w) AS n2 FROM sp GROUP BY doc_id),
      qtoks AS (SELECT query_id,
                       unnest(string_split(lower(query_text), ' ')) AS tok
                FROM qs),
      qth AS (SELECT query_id, md5(tok) AS h FROM qtoks WHERE tok <> ''),
      qf AS (SELECT query_id,
               ((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
               +(strpos('0123456789abcdef', substr(h,2,1))-1)*256
               +(strpos('0123456789abcdef', substr(h,3,1))-1)*16
               +(strpos('0123456789abcdef', substr(h,4,1))-1)) % 32 AS bucket,
               CASE WHEN ((strpos('0123456789abcdef', substr(h,5,1))-1) & 1) = 1
                    THEN -1 ELSE 1 END AS s
             FROM qth),
      qsp AS (SELECT query_id, bucket, sum(s) AS w
              FROM qf GROUP BY query_id, bucket),
      qn2 AS (SELECT query_id, sum(w*w) AS n2 FROM qsp GROUP BY query_id),
      dots AS (SELECT q.query_id, v.doc_id, sum(q.w * v.w) AS dot
               FROM qsp q JOIN sp v USING (bucket)
               GROUP BY q.query_id, v.doc_id),
      vdist AS (SELECT q.query_id, c.doc_id,
                       qn.n2 + dn.n2 - 2*coalesce(t.dot, 0) AS dist
                FROM qs q CROSS JOIN corp c
                JOIN n2 dn ON dn.doc_id = c.doc_id
                JOIN qn2 qn ON qn.query_id = q.query_id
                LEFT JOIN dots t ON t.query_id = q.query_id
                                AND t.doc_id = c.doc_id),
      vec AS (SELECT query_id, doc_id, r_vec
              FROM (SELECT query_id, doc_id,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY dist, doc_id)::BIGINT AS r_vec
                    FROM vdist)
              WHERE r_vec <= 100),
      ids AS (SELECT query_id, doc_id FROM lex
              UNION SELECT query_id, doc_id FROM vec),
      fused AS (SELECT i.query_id, i.doc_id,
                       coalesce(v.r_vec, 0)::BIGINT AS r_vec,
                       coalesce(l.r_lex, 0)::BIGINT AS r_lex,
                       (CASE WHEN v.r_vec IS NULL THEN 0
                             ELSE 1000000 // (60 + v.r_vec) END
                        + CASE WHEN l.r_lex IS NULL THEN 0
                               ELSE 1000000 // (60 + l.r_lex) END)::BIGINT
                         AS rrf_1e6
                FROM ids i
                LEFT JOIN vec v USING (query_id, doc_id)
                LEFT JOIN lex l USING (query_id, doc_id))
      SELECT ${head}printf('d%06d', doc_id) AS id, r_vec, r_lex, rrf_1e6
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf_1e6 DESC, doc_id) AS rn
            FROM fused)
      WHERE rn <= 10
      ORDER BY query_id, rrf_1e6 DESC, id"""
  }

  private val batchQueries = Seq(
    0 -> "spark join window",
    1 -> "hash merge sort",
    2 -> "vector stream filter")

  /** BATCH engine hybrid (ZebraEngine.queryHybridBatch): three query
    * phrases through ONE plan at exhaustive budget under the md5-count
    * twin — the postings shuffle, df aggregation and candidate join are
    * shared across the batch, and every per-query ranking and the fusion
    * land on one DuckDB hash with a query_id dimension. */
  val engineHybridBatch = Q(
    "engine_hybrid_batch_exact",
    (s, dir) => {
      val eng = EmbedQueries.DocEngineMd5Cache.ensure(s, dir)
      val twin = graft.embed.Md5CountEmbedder()
      import s.implicits._
      val queries = batchQueries
        .map { case (i, t) => (i.toLong, t) }
        .toDF("query_id", "query_text")
      eng.queryHybridBatch(queries, twin, k = 10, legK = 100,
          searchK = Some(Int.MaxValue))
        .orderBy(col("query_id"), col("rrf_1e6").desc, col("id"))
    },
    Some(engineHybridOracle(batchQueries, "", selectQueryId = true)))

  /** FILTERED engine hybrid (`where = id < 'd000200'`, ~40% selectivity at
    * sf0.01): the predicate composes into BOTH legs, so corpus statistics
    * and rankings are those of the filtered corpus — at exhaustive budget
    * this is algebraically the hybrid search of the pre-filtered corpus,
    * which is exactly what the oracle computes (corp narrowed to
    * doc_id < 200). Gates the `where=` surface end-to-end. */
  val engineHybridFiltered = Q(
    "engine_hybrid_filtered_exact",
    (s, dir) => {
      val eng = EmbedQueries.DocEngineMd5Cache.ensure(s, dir)
      val twin = graft.embed.Md5CountEmbedder()
      eng.queryHybrid(terms.mkString(" "), twin, k = 10, legK = 100,
          searchK = Some(Int.MaxValue), where = Some(col("id") < "d000200"))
        .orderBy(col("rrf_1e6").desc, col("id"))
    },
    Some(engineHybridOracle(Seq(0 -> terms.mkString(" ")),
      "AND doc_id < 200", selectQueryId = false)))

  def qs: Seq[Q] = Seq(bm25, bm25StreamExec, hybridRrf, engineHybrid,
    engineHybridBatch, engineHybridFiltered)
}
