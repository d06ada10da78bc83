package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Distances

/** Product quantization — the third ANN family next to the LSH forest and
  * IVF-Flat, and the one that changes the 100 TB memory equation: the
  * vector column is compressed `m`-ways (each `dim/m`-wide subvector →
  * the id of its nearest sub-codebook centroid), so a 64-d float corpus
  * becomes 8 BYTES per vector (32×), and query-time scoring is
  * asymmetric-distance (ADC): one `m·ksub` lookup table per query,
  * O(m) adds per corpus row instead of O(dim) multiplies — a scan over
  * codes that fits in memory where the raw vectors never would.
  *
  * Scale shape mirrors [[Ivf]]: codebooks train on a bounded seeded
  * driver sample (per-subspace Lloyd), encoding is one narrow map over
  * the corpus against broadcast codebooks (no join, no shuffle), ADC
  * scoring is a narrow map emitting (query, dist) pairs reduced by the
  * bounded [[TopK]] aggregate, and the optional exact-rerank stage joins
  * only the shortlist back to the raw vectors. With `rerank` ≥ corpus
  * size the shortlist is exhaustive and the result is algebraically
  * exact kNN — the same oracle-twin trick as `ann_ivf_full_probe`. */
object Pq {

  /** [m][ksub][subdim] sub-codebooks, plus an optional coordinate
    * permutation applied to every vector BEFORE the subspace split
    * (null = identity). A permutation is orthogonal — it preserves every
    * pairwise L2 distance exactly, so ground truth and the exact-rerank
    * stage are untouched — but it changes which dims land in which
    * subspace, i.e. how quantization error distributes. [[trainPermuted]]
    * picks it by measured codes-only recall. */
  final case class PqModel(
      codebooks: Array[Array[Array[Double]]],
      perm: Array[Int] = null) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.headOption.map(_.length).getOrElse(0)
    def subdim: Int =
      codebooks.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
  }

  private[ops] def applyPerm(v: Array[Double], perm: Array[Int]): Array[Double] =
    if (perm == null) v
    else {
      val o = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { o(i) = v(perm(i)); i += 1 }
      o
    }

  private val broadcastBooks = new graft.core.BroadcastCache[
    PqModel, Array[Array[Array[Double]]]](_.codebooks)

  /** Per-subspace Lloyd on a bounded seeded driver sample (the same
    * sampling rule as [[Ivf.chooseCentroids]] — quantizers train on
    * samples at any corpus scale). `dim` must divide evenly into `m`. */
  def train(
      vectors: DataFrame, m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      iters: Int = 10, sampleCap: Int = 4096,
      vecId: String = "vec_id"): PqModel = {
    val (sample, subdim) = sampleFor(vectors, m, ksub, seed, sampleCap, vecId)
    PqModel(booksFor(sample, m, subdim, ksub, iters))
  }

  private def sampleFor(
      vectors: DataFrame, m: Int, ksub: Int, seed: Long, sampleCap: Int,
      vecId: String): (Array[Array[Double]], Int) = {
    val dim0 = vectors.select(size(col("embedding"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(64)
    require(dim0 % m == 0, s"dim $dim0 not divisible into $m subspaces")
    require(ksub <= 256, s"ksub $ksub exceeds the one-byte code space")
    val cap = graft.index.LshForest.byteBoundedCap(sampleCap, dim0)
    val sample = vectors
      .select(col(vecId), Distances.asDouble(col("embedding")).as("emb"))
      .withColumn("h", xxhash64(col(vecId), lit(seed)))
      .orderBy("h").limit(math.max(ksub, cap))
      .select("emb").collect()
      .map(_.getSeq[Double](0).toArray)
    (sample, dim0 / m)
  }

  private def booksFor(
      sample: Array[Array[Double]], m: Int, subdim: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { s =>
      Ivf.lloyd(sample.map(_.slice(s * subdim, (s + 1) * subdim)), ksub, iters)
    }

  /** Candidate `p` of [[trainPermuted]]'s seeded Fisher–Yates family
    * (candidate 0 = identity = null). Deterministic in (dim, seed, p). */
  private def seededPerm(dim: Int, seed: Long, p: Int): Array[Int] =
    if (p == 0) null
    else {
      val perm = Array.tabulate(dim)(identity)
      var x = seed * 1000003L + p
      def next(): Long = {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      var i = dim - 1
      while (i > 0) {
        val j = math.floorMod(next(), i + 1L).toInt
        val t = perm(i); perm(i) = perm(j); perm(j) = t
        i -= 1
      }
      perm
    }

  /** OPQ-lite, the zero-float-parameter form: choose the coordinate
    * PERMUTATION — out of `nPerms` seeded Fisher–Yates candidates,
    * candidate 0 pinned to the identity so the search can never regress
    * the unpermuted baseline ON THE SAMPLE — that maximizes MEASURED
    * codes-only recall@10 over the build sample, then keep that
    * candidate's codebooks and persist the permutation inside the model.
    *
    * Why a permutation: ADC quantizes `m` fixed coordinate groups
    * independently, so WHICH dims share a subspace decides how
    * quantization error distributes; full OPQ learns a rotation R by
    * alternating SVD (Ge et al. 2013), but a permutation is the subset
    * of rotations that stays integer-exact and replayable — it preserves
    * every pairwise L2 EXACTLY (ground truth, rerank, and the
    * full-budget twin's hash gate are all untouched) while still
    * re-balancing subspace structure. Selection is entirely driver-side
    * and sample-bounded: per candidate, per-subspace Lloyd on the
    * permuted sample, sample self-encoding, and ADC recall@10 of
    * `nEvalQueries` sample queries against exact (permutation-invariant,
    * computed once) sample ground truth. Candidates evaluate in
    * parallel; everything is seeded, so the winner is deterministic
    * (ties break toward the smaller candidate index). */
  def trainPermuted(
      vectors: DataFrame, m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      iters: Int = 10, sampleCap: Int = 4096, nPerms: Int = 16,
      nEvalQueries: Int = 256, vecId: String = "vec_id"): PqModel = {
    val (sample, subdim) = sampleFor(vectors, m, ksub, seed, sampleCap, vecId)
    val dim = subdim * m
    val n = sample.length
    val nq = math.min(nEvalQueries, n)

    def permOf(p: Int): Array[Int] = seededPerm(dim, seed, p)

    // exact top-10 ground truth on the sample — L2 is permutation-
    // invariant, so ONE ground truth serves every candidate
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var j = 0
      while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
      d
    }
    val gt: Array[Set[Int]] = Array.tabulate(nq) { q =>
      (0 until n).filter(_ != q)
        .map(i => (l2(sample(q), sample(i)), i))
        .sorted.take(10).map(_._2).toSet
    }

    def hitsOf(perm: Array[Int]): Long = {
      val ps = sample.map(applyPerm(_, perm))
      val books = booksFor(ps, m, subdim, ksub, iters)
      val codes = ps.map { v =>
        Array.tabulate(m) { s =>
          val cents = books(s)
          var best = 0; var bestD = Double.MaxValue; var i = 0
          while (i < cents.length) {
            var d = 0.0; var j = 0
            while (j < subdim) {
              val t = v(s * subdim + j) - cents(i)(j); d += t * t; j += 1
            }
            if (d < bestD) { bestD = d; best = i }
            i += 1
          }
          best
        }
      }
      var hits = 0L
      var q = 0
      while (q < nq) {
        val lut = Array.tabulate(m) { s =>
          books(s).map { c =>
            var d = 0.0; var j = 0
            while (j < subdim) {
              val t = ps(q)(s * subdim + j) - c(j); d += t * t; j += 1
            }
            d
          }
        }
        val top = (0 until n).filter(_ != q)
          .map { i =>
            var d = 0.0; var s = 0
            while (s < m) { d += lut(s)(codes(i)(s)); s += 1 }
            (d, i)
          }
          .sorted.take(10)
        hits += top.count { case (_, i) => gt(q).contains(i) }
        q += 1
      }
      hits
    }

    val scores = java.util.stream.IntStream.range(0, nPerms).parallel()
      .mapToObj { p: Int => (p, hitsOf(permOf(p))) }
      .toArray.map(_.asInstanceOf[(Int, Long)])
    val (bestP, _) = scores.minBy { case (p, h) => (-h, p) }
    val winner = permOf(bestP)
    PqModel(booksFor(sample.map(applyPerm(_, winner)), m, subdim, ksub, iters),
      winner)
  }

  /** Compress the corpus: (vecId, codes BINARY) — one byte per subspace,
    * a narrow map against the broadcast codebooks. Ties break toward the
    * smaller centroid id (deterministic). */
  def encode(vectors: DataFrame, model: PqModel, vecId: String = "vec_id"): DataFrame = {
    val bc = broadcastBooks(vectors.sparkSession, model)
    val perm = model.perm
    val enc = udf { (emb: Seq[Float]) =>
      val books = bc.value
      val m = books.length
      val subdim = books(0)(0).length
      // unbox once; per-centroid early abandonment (both exact — see
      // Ivf.assign, the same hot-loop discipline)
      val p0 = new Array[Double](emb.length)
      var j0 = 0
      while (j0 < p0.length) { p0(j0) = emb(j0); j0 += 1 }
      val p = applyPerm(p0, perm)
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cents = books(s)
        val base = s * subdim
        var best = 0; var bestD = Double.MaxValue; var i = 0
        while (i < cents.length) {
          val c = cents(i)
          var d = 0.0; var j = 0
          while (j < subdim && d < bestD) {
            val t = p(base + j) - c(j); d += t * t; j += 1
          }
          if (j == subdim && d < bestD) { bestD = d; best = i }
          i += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }
    vectors.select(col(vecId), enc(col("embedding")).as("codes"))
  }

  /** ADC scores of every (query, code row) pair: the per-query
    * `m × ksub` lookup tables are built once from the collected query
    * batch (queries are the small side everywhere in this engine) and
    * broadcast; each corpus row then costs m table adds. Emits
    * (queryId, vecId, dist) with approximate (quantized-space) dists. */
  /** Collect the (small) query batch and build one `m × ksub` ADC lookup
    * table per query, keyed by the id's STRING rendering — injective for
    * any single id type (the engine mints STRING ids like "v000000007";
    * the first cut cast to BIGINT and threw on them), and the score
    * emitters below re-attach the ORIGINAL id column so output types are
    * caller-transparent. */
  private def queryLuts(
      queries: DataFrame, model: PqModel, queryId: String)
      : Array[(String, Array[Array[Double]])] = {
    val books = model.codebooks
    val m = model.m
    val subdim = model.subdim
    queries
      .select(col(queryId).cast("string"), Distances.asDouble(col("embedding")))
      .collect()
      .map { r =>
        val q = applyPerm(r.getSeq[Double](1).toArray, model.perm)
        val lut = Array.tabulate(m) { s =>
          books(s).map { c =>
            var d = 0.0; var j = 0
            while (j < subdim) { val t = q(s * subdim + j) - c(j); d += t * t; j += 1 }
            d
          }
        }
        (r.getString(0), lut)
      }
  }

  private[ops] def adcScores(
      queries: DataFrame, codes: DataFrame, model: PqModel,
      queryId: String, vecId: String): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(queryLuts(queries, model, queryId))
    val score = udf { (codes: Array[Byte]) =>
      bc.value.map { case (qid, lut) =>
        var d = 0.0
        var s = 0
        while (s < codes.length) { d += lut(s)(codes(s) & 0xff); s += 1 }
        (qid, d)
      }.toSeq
    }
    // the scores carry the string LUT key; a broadcast join against the
    // (tiny) query batch restores the original-typed id column
    val mapping = queries.select(
      col(queryId), col(queryId).cast("string").as("_qkey"))
    codes
      .select(col(vecId), explode(score(col("codes"))).as("qd"))
      .select(col("qd._1").as("_qkey"), col(vecId), col("qd._2").as("dist"))
      .join(broadcast(mapping), Seq("_qkey"))
      .select(col(queryId), col(vecId), col("dist"))
  }

  /** ADC scores where each input row already names its query —
    * (queryId, vecId, codes) → (queryId, vecId, dist) through that
    * query's lookup table. The [[IvfPq]] shape, where different queries
    * probe different cells so the fan-out is in the rows, not the UDF. */
  private[ops] def adcScoresKeyed(
      rows: DataFrame, queries: DataFrame, model: PqModel,
      queryId: String, vecId: String): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(
      queryLuts(queries, model, queryId).toMap)
    val score = udf { (qid: String, codes: Array[Byte]) =>
      val lut = bc.value(qid)
      var d = 0.0
      var s = 0
      while (s < codes.length) { d += lut(s)(codes(s) & 0xff); s += 1 }
      d
    }
    rows.select(col(queryId), col(vecId),
      score(col(queryId).cast("string"), col("codes")).as("dist"))
  }

  /** Occupancy-scaled default rerank for FLAT PQ (the IvfPq.defaultRerank
    * sizing law with every "cell" probed — the ADC scan covers the whole
    * corpus, so the shortlist must track corpus size, not a fixed 32·k:
    * fixed shortlists decay exactly like the IVF-PQ probe showed at 1.6M
    * vectors, SURVEY §8.2). */
  def defaultRerank(k: Int, n: Long): Int =
    math.max(32 * k, math.ceil(n / 500.0).toInt)

  /** PQ top-k: ADC shortlist of `rerank` candidates per query, then exact
    * rerank against the raw vectors (broadcast shortlist join — only the
    * shortlist's vectors are rescored). `rerank` ≥ corpus size makes the
    * result exactly equal to [[SimSearch.exactTopK]]. */
  def topK(
      queries: DataFrame, codes: DataFrame, vectors: DataFrame,
      model: PqModel, k: Int, rerank: Int,
      metric: Distances.Metric = Distances.L2Squared,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame = {
    require(rerank >= k, "rerank budget must be at least k")
    SimSearch.rerankTopK(
      adcTopK(queries, codes, model, rerank, queryId, vecId),
      queries, vectors, k, metric, queryId, vecId, roundTo)
  }

  /** Pure-ADC top-k (no rerank) — what a codes-only scan can answer. */
  def adcTopK(
      queries: DataFrame, codes: DataFrame, model: PqModel, k: Int,
      queryId: String = "query_id", vecId: String = "vec_id"): DataFrame =
    SimSearch.takeTopK(
      adcScores(queries, codes, model, queryId, vecId), k, queryId, vecId)
}
