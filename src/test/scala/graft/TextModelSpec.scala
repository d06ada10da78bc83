package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.catalog.TextQueries
import graft.core.Tables

/** Semantic gates on the model-based quality operators (bigram-LM
  * perplexity scoring and the hashed-linear classifier) — the DuckDB
  * hash gates prove cross-engine equality; these prove the scores MEAN
  * something: internal consistency of the derived columns, token-count
  * conservation against the raw corpus, the in-distribution gap (the
  * LM's own training split must score lower than held-out docs — the
  * property CCNet-style filtering relies on), and determinism. */
class TextModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sf0001

  test("token entropy: exact at analytic anchors, orders repetition") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 16).map(i => s"t$i").mkString(" ")), // 16 distinct → 4 bits
      (2L, Seq.fill(4)("a").mkString(" ")),           // constant → 0 bits
      (3L, "a a a a b b c d"),                        // mixed, < 3 bits
      (4L, (1 to 8).map(i => s"u$i").mkString(" ")))  // 8 distinct → 3 bits
      .toDF("doc_id", "text")
    val out = graft.ops.QualityModels.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // all-distinct and all-same docs hit qlog2's exact points (powers of
    // two): H = log2(n) and H = 0 with NO fixed-point error
    assert(out(1L) == ((16L, 4096L)))
    assert(out(2L) == ((4L, 0L)))
    assert(out(4L) == ((8L, 3072L)))
    // mixed doc: 0 < H < all-distinct H for the same length (8 tokens)
    val (n3, e3) = out(3L)
    assert(n3 == 8L && e3 > 0L && e3 < 3072L,
      s"mixed-repetition entropy out of range: $e3")
    // float cross-check within qlog2's documented error (0.086 bits per
    // log; two log applications compound through the weighted average)
    val exact3 = {
      val counts = Seq(4.0, 2.0, 1.0, 1.0)
      val n = counts.sum
      counts.map(c => -c / n * math.log(c / n) / math.log(2)).sum
    }
    assert(math.abs(e3 / 1024.0 - exact3) < 0.2,
      s"fixed-point entropy ${e3 / 1024.0} vs exact $exact3")
  }

  test("entropy filter entry: keep flag matches the threshold rule") {
    val rows = TextQueries.entropyFilter.run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("entropy_q10") >= 4096L))
    }
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length,
      s"threshold is degenerate at sf0.001: $kept of ${rows.length} kept")
  }

  test("pmi collocations: exact at a power-of-two anchor, min-count guard") {
    import spark.implicits._
    // Planted corpus of 16 "x y" docs: c_xy = 16, c_x = c_y = 16, N = 32,
    // B = 16 → PMI(x,y) = log2(16·32²/(16·16·16)) = 2.0 bits — every
    // count a power of two, so qlog2 has ZERO fixed-point error and the
    // entry must return exactly 2048. Written through a fixture-shaped
    // temp dir so the test exercises the real entry end to end.
    val docs = (1L to 16L).map(i => (i, "x y")).toDF("doc_id", "text")
    val tmp = SparkTestBase.tmpDir("pmi")
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = graft.catalog.TextQueries.pmiCollocations
      .run(spark, tmp).collect()
    // single qualifying pair: (x, y) — the min-count guard admits nothing
    // else (no other adjacent pair exists)
    assert(planted.length == 1)
    val r = planted.head
    assert(r.getString(0) == "x" && r.getString(1) == "y")
    assert(r.getLong(2) == 16L)
    assert(r.getLong(3) == 2048L,
      s"PMI(x,y) must be exactly 2.0 bits at the power-of-two anchor, " +
        s"got ${r.getLong(3)}")
    // fixture-scale smoke: nonempty and every surviving pair meets the
    // min-count guard
    val rows = graft.catalog.TextQueries.pmiCollocations
      .run(spark, SparkTestBase.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= 5L))
  }

  test("lm score: columns cohere, counts conserve, flag matches the integer rule") {
    val rows = TextQueries.lmScore.run(spark, dir).collect()
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == nTok.size)
    rows.foreach { r =>
      val (n, nll) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("nll_micro"))
      assert(n == nTok(r.getAs[Long]("doc_id")), "one scored position per token")
      assert(nll > 0, "add-one smoothing keeps every p < 1")
      assert(r.getAs[Double]("avg_nll") ==
        BigDecimal(nll.toDouble / (n * 10000)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[Boolean]("keep") == (nll <= n * 34200L))
    }
  }

  test("lm score: the training split is in-distribution (lower mean nll)") {
    val rows = TextQueries.lmScore.run(spark, dir).collect()
    val (train, heldOut) = rows.partition(_.getAs[Long]("doc_id") % 4 == 0)
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getAs[Long]("nll_micro").toDouble /
        r.getAs[Long]("n_tokens")).sum / rs.length
    assert(train.nonEmpty && heldOut.nonEmpty)
    assert(mean(train) < mean(heldOut),
      "docs the LM was trained on must score better than held-out docs")
  }

  test("classifier: feature count is 2n-1, derived columns cohere, deterministic") {
    val rows = TextQueries.qualityClassifier.run(spark, dir).collect()
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == nTok.size)
    rows.foreach { r =>
      val n = nTok(r.getAs[Long]("doc_id"))
      val expected = if (n >= 2) 2 * n - 1 else n // unigrams + adjacent bigrams
      assert(r.getAs[Long]("n_feat") == expected)
      val (s, f) = (r.getAs[Long]("score_sum"), r.getAs[Long]("n_feat"))
      assert(r.getAs[Long]("avg_bp") == (s * 10000) / f) // JVM / == Spark div
      assert(r.getAs[Boolean]("label") == (s > 0))
    }
    val again = TextQueries.qualityClassifier.run(spark, dir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("qlog2: exact at powers of two, monotone, 10-bit-accurate") {
    import spark.implicits._
    val n = (1L to 4096L) ++ Seq(1L << 20, (1L << 20) + 1, 123456789L)
    val got = n.toDF("n")
      .select(col("n"), graft.ops.QualityModels.qlog2(col("n")).as("q"))
      .orderBy("n").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    got.foreach { case (v, q) =>
      if ((v & (v - 1)) == 0) // power of two: exact
        assert(q == 1024L * java.lang.Long.numberOfTrailingZeros(v))
      val err = math.abs(q / 1024.0 - math.log(v.toDouble) / math.log(2))
      assert(err < 0.09, s"qlog2($v)=$q off by $err bits")
    }
    got.sliding(2).foreach { case Array((v1, q1), (v2, q2)) =>
      assert(q1 <= q2, s"qlog2 not monotone at $v1->$v2")
    }
  }

  test("dsir: target-domain docs outscore off-domain docs; selection keeps them") {
    import spark.implicits._
    // two disjoint vocab pools; target drawn from pool A only
    def doc(id: Long, pool: String) =
      (id, (0 until 30).map(j => s"${pool}w${(id * 7 + j * 3) % 40}").mkString(" "))
    val docs = ((0L until 40L).map(doc(_, "a")) ++
      (40L until 80L).map(doc(_, "b"))).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") < 10) // pool-A sample
    val scored = graft.ops.QualityModels.dsirScore(docs, target).cache()
    val byId = scored.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dsir_score")).toMap
    val aMin = (0L until 40L).map(byId).min
    val bMax = (40L until 80L).map(byId).max
    assert(aMin > bMax,
      s"every pool-A doc must outscore every pool-B doc (aMin=$aMin bMax=$bMax)")
    // a budget sized to pool A's feature mass keeps exactly pool A
    val aFeats = graft.ops.QualityModels.dsirScore(docs, target)
      .filter(col("doc_id") < 40).agg(sum("n_feat")).collect()(0).getLong(0)
    val kept = graft.ops.Curation
      .tokenBudgetSelect(scored, "dsir_score", "n_feat",
        budget = aFeats, bucketDiv = 256L, bestLow = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 40L).toSet,
      "selection under a pool-A-sized budget must keep exactly pool A")
  }

  test("dsir: per-row kernel lands on the declarative plan's scores exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val target = docs.filter(col("doc_id") % 7 === 0)
    val wt = graft.ops.QualityModels.dsirWeights(docs, target)
      .as[(Long, Long)].collect().toMap
    val declarative = graft.ops.QualityModels.dsirScore(docs, target)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feat"), r.getAs[Long]("dsir_score"))).toMap
    val k = graft.ops.QualityModels.dsirScoreKernel(wt)
    val kernel = docs.select(col("doc_id"), k(col("text")).as("s"))
      .collect().map(r => r.getAs[Long]("doc_id") -> {
        val s = r.getStruct(1); (s.getLong(0), s.getLong(1))
      }).toMap
    assert(kernel == declarative,
      "kernel and declarative DSIR must agree byte-for-byte")
  }
}
