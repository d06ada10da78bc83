package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.DedupQueries

/** Dev tool: scale probe for the text near-dup family beyond the 500-doc
  * fixture. Synthesizes n deterministic 40-word documents over a bounded
  * vocabulary, plants a near-duplicate for every 20th doc (one appended
  * word — true 3-gram Jaccard ≈ 0.88, above the 0.8 threshold), and
  * measures the prefix-filtered n-gram Jaccard pipeline:
  *
  *  - candidate pairs emitted by the prefix filter (the scale-deciding
  *    number: candidates, not corpus size, bound the verify join);
  *  - verified pairs (must be ≥ the n/20 planted ones);
  *  - wall time for the end-to-end pipeline.
  *
  * Run at two sizes to see the growth curve, e.g.:
  *   tools/run.sh graft.tools.DedupScaleProbe 50000
  *   tools/run.sh graft.tools.DedupScaleProbe 200000
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "minhashdelta") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      minhashDeltaLeg(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "streamneardup") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      streamNearDupLeg(spark, if (args.length > 1) args(1).toInt else 50000,
        family = if (args.length > 2) args(2) else "md5")
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "ccdelta") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      ccDeltaLeg(spark,
        n = if (args.length > 1) args(1).toInt else 1000000,
        m = if (args.length > 2) args(2).toInt else 10000)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "streamboiler") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      streamBoilerLeg(spark,
        n = if (args.length > 1) args(1).toInt else 50000,
        dupEvery = if (args.length > 2) args(2).toInt else 20)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "dailyloop") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      dailyLoopLeg(spark,
        n = if (args.length > 1) args(1).toInt else 120000,
        days = if (args.length > 2) args(2).toInt else 4)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "ccchain") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      ccChainLeg(spark,
        n = if (args.length > 1) args(1).toInt else 1000000,
        m = if (args.length > 2) args(2).toInt else 100000,
        steps = if (args.length > 3) args(3).toInt else 5)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "boilerplate") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      boilerplateLeg(spark,
        n = if (args.length > 1) args(1).toInt else 100000,
        dupEvery = if (args.length > 2) args(2).toInt else 10)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "sigkernel") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      sigKernelLeg(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "crawlprune") {
      // small parquet row groups: at probe scale a default-sized (128 MB)
      // store is ONE row group, so row-group pruning physically cannot
      // show — 64 KiB groups give the store the many-row-group shape a
      // 100 TB store has, which is what the probe is modeling
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.hadoop.parquet.block.size", "65536")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      crawlPruneLeg(spark,
        n = if (args.length > 1) args(1).toInt else 100000,
        epochs = if (args.length > 2) args(2).toInt else 100,
        compactEvery = if (args.length > 3) args(3).toInt else 10)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "decontam") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      decontamLeg(spark,
        n = if (args.length > 1) args(1).toInt else 250000,
        nBench = if (args.length > 2) args(2).toInt else 1000)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "streamembdedup") {
      // RocksDB state store: required by transformWithState (the op's
      // state operator since round 11), and the provider a long-lived
      // production stream runs anyway — the default HDFS-backed provider
      // clones its whole in-memory map per batch version, an
      // O(total state) tax per batch.
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      streamEmbDedupLeg(spark,
        n = if (args.length > 1) args(1).toInt else 100000,
        dim = if (args.length > 2) args(2).toInt else 64)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "embdelta") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      embDeltaLeg(spark,
        n = if (args.length > 1) args(1).toInt else 200000,
        dim = if (args.length > 2) args(2).toInt else 64)
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "embedding") {
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      embeddingLeg(spark,
        n = if (args.length > 1) args(1).toInt else 50000,
        dim = if (args.length > 2) args(2).toInt else 64)
      spark.stop()
      return
    }
    val n = if (args.nonEmpty) args(0).toInt else 50000
    val vocab = if (args.length > 1) args(1).toInt else 2000
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Deterministic corpus: doc i = 40 words drawn hash-uniformly from a
    // `vocab`-word vocabulary. Every 20th doc gets a near-dup twin (same
    // text + one appended word): 38 shared shingles of 38+41 distinct,
    // J = 38/41 ≈ 0.927 — a planted pair the pipeline must find.
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(vocab)))))
        .as("text"))
    val twins = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + n).as("doc_id"),
        concat(col("text"), lit(" w_dup")).as("text"))
    val docs = base.unionAll(twins).cache()
    val total = docs.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (nCand, tCand) = time(DedupQueries.ngramCandidates(docs).count())
    val (pairs, _) = time(DedupQueries.ngramJaccardPairs(docs).cache())
    val (nPairs, tVerify) = time(pairs.count())
    val planted = n / 20 + (if (n % 20 != 0) 1 else 0)
    val plantedFound = pairs
      .filter(col("doc_b") === col("doc_a") + n && col("doc_a") % 20 === 0)
      .count()

    println(s"""{"probe":"dedup_ngram","n_docs":$total,"vocab":$vocab,""" +
      s""""candidates":$nCand,"cand_per_doc":${nCand.toDouble / total},""" +
      s""""verified_pairs":$nPairs,"planted":$planted,""" +
      s""""planted_found":$plantedFound,""" +
      s""""t_candidates_sec":$tCand,"t_end_to_end_sec":${tCand + tVerify}}""")
    spark.stop()
  }

  /** Embedding-cosine leg (`embedding <n> [dim]`): the growth curve behind
    * dedup_embedding_cosine at corpora BEYOND the forest's 64k build
    * sample, where un-refined leaf occupancy grows linearly with n and the
    * in-bucket pair join would be quadratic in it. Synthesizes n
    * deterministic pseudo-random vectors (near-orthogonal at dim 64 — no
    * organic cos >= 0.999 pairs), plants an exact duplicate for every 20th,
    * and measures the routed + occupancy-refined pipeline: candidate
    * pairs (the scale-deciding number), realized max sub-bucket size vs
    * the cap, planted-pair recall (must be 1.0 — identical vectors share
    * every sub-key), and wall time. Run at 50k / 200k / 800k to see the
    * curve cross the sample cap. */
  def embeddingLeg(spark: SparkSession, n: Int, dim: Int): Unit = {
    import graft.catalog.DedupQueries
    import graft.functions.Distances
    import graft.index.LshForest

    val base = spark.range(n).select(
      col("id").cast("int").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => ((pmod(xxhash64(col("id"), j), lit(2001)) - 1000) / 1000.0)
          .cast("float")).as("embedding"))
    val twins = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
    val planted = base.unionAll(twins).cache()
    val total = planted.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (model, tBuild) = time(LshForest.build(planted))
    val raw = LshForest.bucketTable(planted, model).cache()
    raw.count()
    val refined = DedupQueries.refineBuckets(raw, planted).cache()
    val maxBucket = refined.groupBy("tree_id", "leaf_id", "sub_key").count()
      .agg(max("count")).first().getLong(0)
    val joinKeys = Seq("tree_id", "leaf_id", "sub_key")
    val pairCand = refined.as("a")
      .join(refined.as("b"),
        joinKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct().cache()
    val (nCand, tCand) = time(pairCand.count())
    val v = planted.select(col("vec_id"), Distances.asDouble(col("embedding")).as("emb"))
    val (nVerified, tVerify) = time(
      pairCand
        .join(v.select(col("vec_id").as("vec_a"), col("emb").as("ea")), "vec_a")
        .join(v.select(col("vec_id").as("vec_b"), col("emb").as("eb")), "vec_b")
        .filter(Distances.cosineSim(col("ea"), col("eb")) >= 0.999)
        .count())
    val planted0 = (n + 19) / 20
    val plantedFound = pairCand
      .filter(col("vec_b") === col("vec_a") + n && col("vec_a") % 20 === 0)
      .count()

    println(s"""{"probe":"dedup_embedding","n_vectors":$total,"dim":$dim,""" +
      s""""candidates":$nCand,"cand_per_vec":${nCand.toDouble / total},""" +
      s""""max_sub_bucket":$maxBucket,"cap":${DedupQueries.NearDupLeafCap},""" +
      s""""verified_pairs":$nVerified,"planted":$planted0,""" +
      s""""planted_found":$plantedFound,"t_build_sec":$tBuild,""" +
      s""""t_candidates_sec":$tCand,"t_verify_sec":$tVerify}""")
  }

  /** Embedding-increment leg (`embdelta <n> [dim]`): the scale claim
    * behind dedup_embedding_incremental — with the base forest, frozen
    * cuts and sub-keyed bucket table built once and carried forward (NOT
    * timed; production's previous-day artifacts), routing a delta
    * through the frozen index must cost ~|delta| on the delta-side
    * stages plus one base-side bucket probe, never a corpus re-route.
    * Deltas of n/16, n/4 and n twin vectors (exact copies of a base
    * prefix, shifted ids) force pairing across the split; each size
    * asserts FULL planted recall (identical vectors share every frozen
    * sub-key). A full recompute (fresh forest + refine + all-pairs
    * bucket join on base ∪ smallest delta) runs last as the comparator
    * the increment is claimed against. */
  def embDeltaLeg(spark: SparkSession, n: Int, dim: Int): Unit = {
    import graft.catalog.DedupQueries
    import graft.functions.Distances
    import graft.index.LshForest

    val base = spark.range(n).select(
      col("id").cast("int").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => ((pmod(xxhash64(col("id"), j), lit(2001)) - 1000) / 1000.0)
          .cast("float")).as("embedding")).cache()
    base.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // Previous-day artifacts: built once, not part of any timed leg.
    val model = LshForest.build(base)
    val raw = LshForest.bucketTable(base, model)
    val cuts = DedupQueries.bucketCuts(raw, base).cache()
    cuts.count()
    val baseKeyed = DedupQueries.assignSubKeys(raw, base, cuts).cache()
    baseKeyed.count()

    for (frac <- Seq(16, 4, 1)) {
      val d = n / frac
      val delta = base.filter(col("vec_id") < d)
        .select((col("vec_id") + n).as("vec_id"), col("embedding")).cache()
      delta.count()
      val ((nVerified, plantedFound), wall) = time {
        val deltaKeyed = DedupQueries.assignSubKeys(
          LshForest.bucketTable(delta, model), delta, cuts)
        // the entry's own pipeline (shared helper) — the probe measures
        // exactly what dedup_embedding_incremental runs
        val verified = DedupQueries
          .embeddingDeltaPairs(baseKeyed, deltaKeyed, base.unionAll(delta))
          .cache()
        val nv = verified.count()
        val pf = verified
          .filter(col("vec_b") === col("vec_a") + n && col("vec_a") < d).count()
        verified.unpersist()
        (nv, pf)
      }
      println(s"""{"probe":"dedup_emb_delta","n_base":$n,"n_delta":$d,""" +
        s""""verified_pairs":$nVerified,"planted":$d,""" +
        s""""planted_found":$plantedFound,"t_increment_sec":$wall}""")
      assert(plantedFound == d, s"planted recall ${plantedFound}/$d")
      delta.unpersist()
      System.out.flush()
    }

    // Comparator: what the daily loop would pay WITHOUT the increment —
    // full forest rebuild + refine + all-pairs bucket join at base ∪
    // the smallest (n/16) delta.
    val dSmall = n / 16
    val planted = base.unionAll(
      base.filter(col("vec_id") < dSmall)
        .select((col("vec_id") + n).as("vec_id"), col("embedding"))).cache()
    planted.count()
    val (nFull, tFull) = time {
      val m2 = LshForest.build(planted)
      val refined = DedupQueries.refineBuckets(
        LshForest.bucketTable(planted, m2), planted)
      val pairs = refined.as("a")
        .join(refined.as("b"),
          col("a.tree_id") === col("b.tree_id") &&
            col("a.leaf_id") === col("b.leaf_id") &&
            col("a.sub_key") === col("b.sub_key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      val v = planted
        .select(col("vec_id"), Distances.asDouble(col("embedding")).as("emb"))
      pairs
        .join(v.select(col("vec_id").as("vec_a"), col("emb").as("ea")), "vec_a")
        .join(v.select(col("vec_id").as("vec_b"), col("emb").as("eb")), "vec_b")
        .filter(Distances.cosineSim(col("ea"), col("eb")) >= 0.999)
        .count()
    }
    println(s"""{"probe":"dedup_emb_delta_full_recompute","n_base":$n,""" +
      s""""n_delta":$dSmall,"verified_pairs":$nFull,"t_full_sec":$tFull}""")
  }

  /** Delta-increment leg (`minhashdelta <n>`): the scale claim behind
    * dedup_minhash_incremental — a 10% delta against a 90% base whose
    * band table is already persisted (the previous increment's output,
    * NOT timed) must cost a small fraction of the full-corpus pair
    * recompute, and find exactly the full set's delta-involving pairs.
    * Twins planted base→delta (every 20th base doc gets a near-dup twin
    * in the delta) so the increment must pair across the split. */
  def minhashDeltaLeg(spark: SparkSession, n: Int): Unit = {
    import graft.catalog.DedupQueries
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(2000)))))
        .as("text"))
    // delta = 10% fresh docs + twins of every 20th base doc
    val fresh = spark.range(n, n + n / 10).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(2000)))))
        .as("text"))
    val twins = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 10 * n.toLong).as("doc_id"),
        concat(col("text"), lit(" w_dup")).as("text"))
    val delta = fresh.unionAll(twins)
    val docs = base.unionAll(delta).cache()
    docs.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // previous increment's persisted output — not part of the delta cost
    val baseBands = DedupQueries.bandsOf(base).cache()
    baseBands.count()

    val (deltaPairs, tDelta) = time {
      val db = DedupQueries.bandsOf(delta)
      DedupQueries.minhashPairsDelta(docs, baseBands.unionAll(db), db)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val (fullPairs, tFull) = time {
      val all = DedupQueries.bandsOf(docs)
      val cand = all.as("a").join(all.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      DedupQueries.verifyJaccardProbe(cand, docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val fullDeltaInvolving = fullPairs.filter { case (_, b) => b >= n }
    println(s"""{"probe":"minhash_delta","n_base":$n,"n_delta":${n / 10 + n / 20},""" +
      s""""t_delta_sec":${f"$tDelta%.2f"},"t_full_sec":${f"$tFull%.2f"},""" +
      s""""delta_pairs":${deltaPairs.size},""" +
      s""""full_delta_involving":${fullDeltaInvolving.size},""" +
      s""""equal":${deltaPairs == fullDeltaInvolving}}""")
  }

  /** Streaming near-dup leg (`streamneardup <n>`): sustained-ingest shape
    * for `StreamOps.nearDupPairsStream` — the same synthetic corpus as
    * the ngram leg (planted one-word-edited twin for every 20th doc,
    * J ≈ 0.93) replayed through 8 doc_id-ordered micro-batches, so state
    * grows batch over batch. Reports per-batch wall (a flat tail means
    * state growth does NOT slow ingest — lookups are per-bucket, not
    * per-corpus), final state rows from the progress metrics (must be
    * ≈ 4 bands × docs seen: signatures only, nothing quadratic), total
    * emitted pairs, and planted-twin recall at the 13/16 signature-
    * agreement estimate (expected a bit under 1.0 — binomial estimate
    * of J ≈ 0.93, deterministic for a fixed corpus; the true-Jaccard
    * batch pass is the documented backstop). */
  /** Incremental-components leg (`ccdelta <n> <m>`): the scale claim
    * behind dedup_cluster_incremental — merging m delta edges into the
    * persisted labeling of an n-node base graph must cost a small
    * fraction of the full recompute, and land on the identical labels.
    * Base: n nodes in ~n/4 small components (edge i→i+1 unless i % 4 == 3
    * — the duplicate-cluster shape). Delta: m edges, half bridging two
    * existing components (hash-chosen), half attaching brand-new nodes.
    * Base labels are precomputed (the previous increment's output — NOT
    * timed). Equality against the full star recompute on the union is
    * asserted, not just reported. */
  def ccDeltaLeg(spark: SparkSession, n: Int, m: Int): Unit = {
    import graft.ops.ConnectedComponents
    val base = spark.range(n - 1)
      .filter(pmod(col("id"), lit(4)) =!= 3)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
      .cache()
    base.count()
    val half = m / 2
    val bridges = spark.range(half).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n.toLong)).as("src"),
      pmod(xxhash64(col("id"), lit(2)), lit(n.toLong)).as("dst"))
    val attach = spark.range(half).select(
      pmod(xxhash64(col("id"), lit(3)), lit(n.toLong)).as("src"),
      (col("id") + n.toLong).as("dst"))
    val delta = bridges.unionAll(attach)
      .filter(col("src") =!= col("dst")).cache()
    val nDelta = delta.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // previous increment's persisted output — not part of the delta cost
    val labels = ConnectedComponents.components(base, maxIter = 10)
      .cache()
    labels.count()
    val (incr, tIncr) = time {
      val d = ConnectedComponents.updateIncremental(labels, delta).cache()
      d.count(); d
    }
    val (full, tFull) = time {
      val f = ConnectedComponents
        .componentsLargeSmallStar(base.unionAll(delta)).cache()
      f.count(); f
    }
    val mismatches = incr.as("i")
      .join(full.as("f"), col("i.node") === col("f.node"))
      .filter(col("i.component") =!= col("f.component")).count() +
      math.abs(incr.count() - full.count())
    require(mismatches == 0, s"incremental != full recompute: $mismatches")
    println(s"""{"probe":"cc_delta","n_base_nodes":$n,"n_delta_edges":$nDelta,""" +
      s""""t_incremental_sec":${f"$tIncr%.2f"},"t_full_sec":${f"$tFull%.2f"},""" +
      s""""speedup":${f"${tFull / tIncr}%.2f"},"equal":true}""")
  }

  /** Daily-crawl ENDURANCE leg (`ccchain <n> <m> [steps]`): the
    * COMPOSITION claim the single-delta leg can't make — each increment
    * is individually oracle-gated, but a real crawl runs them as a
    * SEQUENCE, each step's persisted labels feeding the next. Errors
    * that a one-shot gate can't see (a relabel that leaves a stale
    * label alive, a new-node branch that misses a chained merge) would
    * ACCUMULATE across steps. This leg runs `steps` successive deltas
    * (same bridge/attach mix as `ccdelta`; bridges may land on nodes
    * added by EARLIER steps, so chained-label resolution is exercised),
    * localCheckpoints each step's labeling (the persisted-artifact
    * boundary a production pipeline has anyway — and what keeps the
    * lineage flat across increments), and asserts LABEL EQUALITY vs one
    * full recompute over base + all deltas after the LAST step — if any
    * step drifted, the final equality fails. Per-step walls print so
    * flatness is measured, not argued. */
  def ccChainLeg(spark: SparkSession, n: Int, m: Int, steps: Int): Unit = {
    import graft.ops.ConnectedComponents
    val base = spark.range(n - 1)
      .filter(pmod(col("id"), lit(4)) =!= 3)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
      .cache()
    base.count()
    val half = m / 2
    def delta(step: Int) = {
      // node domain grows with the chain: bridges can touch nodes that
      // earlier steps attached, exercising labels produced incrementally
      val domain = n.toLong + (step - 1).toLong * half
      val bridges = spark.range(half).select(
        pmod(xxhash64(col("id"), lit(2 * step + 1)), lit(domain)).as("src"),
        pmod(xxhash64(col("id"), lit(2 * step + 2)), lit(domain)).as("dst"))
      val attach = spark.range(half).select(
        pmod(xxhash64(col("id"), lit(100 + step)), lit(domain)).as("src"),
        (col("id") + domain).as("dst"))
      bridges.unionAll(attach).filter(col("src") =!= col("dst")).cache()
    }
    var labels = ConnectedComponents.components(base, maxIter = 10)
      .localCheckpoint()
    labels.count() // previous night's persisted labeling — not timed
    var allDeltas = Seq.empty[org.apache.spark.sql.DataFrame]
    val walls = Seq.newBuilder[Double]
    (1 to steps).foreach { step =>
      val d = delta(step)
      d.count() // delta edges come from upstream (minhash pairs) — not timed
      val t0 = System.nanoTime()
      labels = ConnectedComponents.updateIncremental(labels, d)
        .localCheckpoint()
      labels.count()
      walls += (System.nanoTime() - t0) / 1e9
      allDeltas :+= d
    }
    val full = ConnectedComponents
      .componentsLargeSmallStar(allDeltas.foldLeft(base)(_ unionAll _))
      .cache()
    full.count()
    val mismatches = labels.as("i")
      .join(full.as("f"), col("i.node") === col("f.node"))
      .filter(col("i.component") =!= col("f.component")).count() +
      math.abs(labels.count() - full.count())
    require(mismatches == 0,
      s"chained increments != full recompute after step $steps: $mismatches")
    val ws = walls.result()
    println(s"""{"probe":"cc_chain","n_base_nodes":$n,""" +
      s""""delta_edges_per_step":$m,"steps":$steps,""" +
      s""""step_walls_sec":[${ws.map(w => f"$w%.2f").mkString(",")}],""" +
      s""""equal":true}""")
  }

  /** Boilerplate leg (`boilerplate <n> <dupEvery>`): the HOT-BUCKET trap
    * of text banding — every `dupEvery`-th doc is one of 20 boilerplate
    * templates, so thousands of docs share identical text and every band
    * bucket holding a template group goes quadratic (the in-group pair
    * OUTPUT itself is C(m,2) — no join trick can beat an output bound;
    * a signature-group collapse was measured at only 1.3× even at 62M
    * candidates because the distinct over the quadratic output dominates
    * both plans). The production mitigation is PIPELINE ORDERING — exact
    * dedup BEFORE banding, as doc_pipeline_curate/pretrain already
    * compose: identical-text groups collapse to one representative, the
    * quadratic pairs are never materialized, and the first-wins KEEP SET
    * is provably unchanged (a non-min group member always drops against
    * its own group min at J = 1; a representative drops iff a verified
    * rep-level pair names a lower-id group min — both derivable without
    * enumerating in-group pairs). This leg measures both plans end to end
    * on the keep-list and ASSERTS the keep sets equal. */
  def boilerplateLeg(spark: SparkSession, n: Int, dupEvery: Int): Unit = {
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(dupEvery)) === 0,
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => format_string("b%02d_%04d",
            (pmod(col("id"), lit(20L * dupEvery)) / dupEvery).cast("long"),
            pmod(xxhash64(
              (pmod(col("id"), lit(20L * dupEvery)) / dupEvery).cast("long"), j),
              lit(2000))))))
        .otherwise(
          concat_ws(" ", transform(sequence(lit(0), lit(39)),
            j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(2000))))))
        .as("text"))
      .cache()
    docs.count()
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def verifiedPairs(d: org.apache.spark.sql.DataFrame) = {
      val bands = DedupQueries.bandsOfFast(d)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      DedupQueries.verifyJaccardProbe(cand, d).select("doc_a", "doc_b")
    }
    // naive: enumerate + verify the full (boilerplate-quadratic) pair set
    val (keepNaive, tNaive) = time {
      val drop = verifiedPairs(docs).select(col("doc_b").as("doc_id")).distinct()
      val k = docs.select("doc_id").join(drop, Seq("doc_id"), "left_anti").cache()
      k.count(); k
    }
    // collapse-first: exact-text groups -> rep-level near-dup -> drop rule
    val (keepColl, tColl) = time {
      val g = docs.groupBy(md5(col("text").cast("binary")).as("k"))
        .agg(min("doc_id").as("gid"))
      val reps = docs
        .join(g.select(col("gid").as("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val dropReps = verifiedPairs(reps).select(col("doc_b").as("doc_id")).distinct()
      val keptReps = reps.select("doc_id")
        .join(dropReps, Seq("doc_id"), "left_anti")
      // keep = kept representatives only: every non-min member drops at
      // J = 1 against its own group min
      val k = keptReps.cache()
      k.count(); k
    }
    val nNaive = keepNaive.count()
    val nColl = keepColl.count()
    val diff = keepNaive.exceptAll(keepColl).limit(1).count() +
      keepColl.exceptAll(keepNaive).limit(1).count()
    require(nNaive == nColl && diff == 0,
      s"keep sets diverged: naive=$nNaive collapsed=$nColl diff=$diff")
    println(s"""{"probe":"boilerplate","n_docs":$n,"dup_every":$dupEvery,""" +
      s""""kept":$nNaive,"keep_sets_equal":true,""" +
      s""""t_naive_keep_sec":${f"$tNaive%.2f"},""" +
      s""""t_collapse_first_keep_sec":${f"$tColl%.2f"},""" +
      s""""speedup":${f"${tNaive / tColl}%.2f"}}""")
  }

  /** Signature-kernel leg (`sigkernel <n>`): the cost claim behind
    * dedup_minhash_pairs_fast — time the full signature + banding pass
    * (the near-dup pipeline's hottest map; zero-shuffle either way) under
    * the md5-per-permutation kernel vs the one-digest affine kernel on
    * the same synthetic 40-word corpus. Warm-up pass first so JIT and
    * page-cache effects don't flatter either side. */
  def sigKernelLeg(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(2000)))))
        .as("text"))
      .cache()
    docs.count()
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // tokenize-only floor: the split/sliding/shingle-build cost BOTH
    // kernels pay before any hashing — the irreducible part of the pass
    val tokUdf = udf { (text: String) =>
      val w = Option(text).getOrElse("").toLowerCase.split(" ", -1)
      val shingles: Iterator[String] =
        if (w.length >= 3) w.sliding(3).map(_.mkString(" "))
        else Iterator(w.mkString(" "))
      var acc = 0L
      shingles.foreach(sh => acc += sh.length)
      acc
    }
    def tokCount() =
      docs.select(tokUdf(col("text")).as("n")).agg(sum("n")).first()
    graft.catalog.DedupQueries.bandsOfFast(docs.limit(2000)).count() // warm JIT
    graft.catalog.DedupQueries.bandsOf(docs.limit(2000)).count()
    tokCount()
    val (nFast, tFast) = time(graft.catalog.DedupQueries.bandsOfFast(docs).count())
    val (nMd5, tMd5) = time(graft.catalog.DedupQueries.bandsOf(docs).count())
    val (_, tTok) = time(tokCount())
    println(s"""{"probe":"sig_kernel","n_docs":$n,"band_rows":$nMd5,""" +
      s""""rows_equal":${nFast == nMd5},""" +
      s""""t_md5_sec":${f"$tMd5%.2f"},"t_affine_sec":${f"$tFast%.2f"},""" +
      s""""t_tokenize_only_sec":${f"$tTok%.2f"},""" +
      s""""speedup":${f"${tMd5 / tFast}%.2f"},""" +
      s""""hash_cost_speedup":${f"${(tMd5 - tTok) / math.max(tFast - tTok, 1e-9)}%.2f"}}""")
  }

  /** Fuzzy-decontamination leg (`decontam <n> [nBench]`): the scale claim
    * behind text_decontaminate_fuzzy — the benchmark side is
    * eval-set-sized, so its bands must BROADCAST (asserted against the
    * physical plan) while the corpus streams map-side through the
    * per-row affine kernel; end-to-end wall should be ~linear in n at a
    * fixed benchmark. Benchmark = one-token-appended copies of the
    * first nBench docs (40-token bodies ⇒ 3-shingle J = 38/39 ≈ 0.97,
    * well over the 0.8 threshold — the operating point the recall-floor
    * analysis below rests on), run at n and 4n; asserts every planted
    * source doc is flagged. */
  def decontamLeg(spark: SparkSession, n: Int, nBench: Int): Unit = {
    import graft.catalog.DedupQueries
    def corpus(m: Int) = spark.range(m).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(2000)))))
        .as("text"))
    for (m <- Seq(n, 4 * n)) {
      val docs = corpus(m).cache()
      docs.count()
      val bench = docs.filter(col("doc_id") < nBench)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" zzeval")).as("text"))
      for (family <- Seq("affine", "md5")) {
        val t0 = System.nanoTime()
        val flagged = DedupQueries
          .decontaminateFuzzyFrom(docs, bench, benchFloor = 10000000L, family)
          .cache()
        val nFlagged = flagged.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val plantedFound = flagged.filter(col("doc_id") < nBench).count()
        val plan = flagged.queryExecution.executedPlan.toString
        val broadcastOk = plan.contains("BroadcastHashJoin")
        println(s"""{"probe":"decontam_fuzzy","family":"$family",""" +
          s""""n_docs":$m,"n_bench":$nBench,""" +
          s""""flagged":$nFlagged,"planted_found":$plantedFound,""" +
          s""""bench_broadcast":$broadcastOk,""" + f""""wall_sec":$wall%.2f}""")
        // Banding recall at the planted J = (k-1)/k ~ 0.97: 16 perms in
        // 4x4 bands miss ~0.01% under INDEPENDENT permutations (md5
        // family). The affine family ORIGINALLY derived every permutation
        // from one base hash per shingle, which correlated the per-entry
        // minima and this probe measured a deterministic ~1% miss —
        // invisible to the catalog gate (the oracle replays the same
        // family on both engines). Splitting the permutations across TWO
        // independent 60-bit folds of the same digest (Minhash
        // .signatureAffineUdf) squares the correlated-miss probability at
        // zero digest cost; both families now hold the same floor here.
        val floor = nBench * 999 / 1000
        assert(plantedFound >= floor,
          s"$family planted recall $plantedFound/$nBench under floor $floor")
        assert(broadcastOk, "benchmark side did not broadcast")
        flagged.unpersist()
        System.out.flush()
      }
      docs.unpersist()
    }
  }

  /** Streaming embedding-near-dup leg (`streamembdedup <n> [dim]`): the
    * state claim behind stream_embdedup_exec. TWO horizons of the same
    * stream (base index frozen from the first half — production's
    * previous-day artifacts, build not timed; every-20th twins planted
    * 60 s of event time after their originals; 8 micro-batches):
    *
    *  - "bounded" (1-hour lateness — the production shape): the
    *    watermark expires state (per-key event-time timers), so
    *    per-bucket occupancy and the per-arrival compare count stay
    *    horizon-bounded: per-batch wall must be FLAT and state_rows
    *    must plateau.
    *  - "unbounded" (365-day lateness): nothing expires — the round-10
    *    flatMapGroupsWithState layout grew 3.7 → 11–17 s over 8 batches
    *    here, because every touch rewrote the bucket's whole embedding
    *    list through the changelog (a dim-8 control run was flat: the
    *    growth term was value BYTES, not key count). The round-11
    *    [[graft.streaming.EmbNearDupProcessor]] appends ONE entry per
    *    arrival instead, so per-batch changelog bytes are arrival-bound
    *    and the leg now ASSERTS flatness: last-two-batch min wall
    *    ≤ 1.3× batch-1 wall (measured 0.92× at 105k vectors, dim 64).
    *
    * Both variants assert FULL planted recall (twins land one batch
    * after their originals, well inside either horizon — and well
    * inside the newest-64 occupancy ring at this bucket fan-out), and
    * (round 12) both report the ring's per-batch DROPPED-PRIORS counts
    * and assert they are ZERO — the organic stream never saturates a
    * bucket, so a nonzero drop here would be a silent recall loss (the
    * boilerplate leg asserts the inverse: its hot bucket MUST drop).
    *
    * A third RESTART variant (round 12, the production-resilience
    * composition): the unbounded-horizon stream on a real checkpoint +
    * parquet sink, KILLED after batch 4 of 8 and restarted from the
    * checkpoint — the restored RocksDB ListState/timers must resume
    * flat walls and the final pair set must EQUAL the uninterrupted
    * unbounded run's (both asserted). */
  def streamEmbDedupLeg(spark: SparkSession, n: Int, dim: Int): Unit = {
    import spark.implicits._
    import graft.catalog.DedupQueries
    import graft.index.LshForest
    val base = spark.range(n).select(
      col("id").cast("int").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => ((pmod(xxhash64(col("id"), j), lit(2001)) - 1000) / 1000.0)
          .cast("float")).as("embedding")).cache()
    base.count()
    val half = base.filter(col("vec_id") < n / 2)
    val model = LshForest.build(half)
    val cuts = DedupQueries.cutsToMap(
      DedupQueries.bucketCuts(LshForest.bucketTable(half, model), half))
    // one arrival per second of event time; twins 60 s after the original
    val twins = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"),
        ((col("vec_id") + 1000000L) * 1000000L + 60L * 1000000L).as("us"))
    val rows = base
      .select(col("vec_id"), col("embedding"),
        ((col("vec_id") + 1000000L) * 1000000L).as("us"))
      .unionAll(twins)
      .select(timestamp_micros(col("us")).as("ts"), col("vec_id"),
        col("embedding"))
      .as[(java.sql.Timestamp, Long, Seq[Float])].collect()
      .sortBy(r => (r._1.getTime, r._2))
    val planted = (n + 19) / 20

    var unboundedPairs: Set[(Long, Long)] = Set.empty
    for ((variant, lateness) <- Seq(
        ("bounded", "1 hour"), ("unbounded", "365 days"))) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
      val sink = s"probe_embdedup_sink_$variant"
      val dropAcc = spark.sparkContext.longAccumulator(s"ring_drops_$variant")
      val q = graft.streaming.StreamOps
        .embNearDupStream(mem.toDF().toDF("ts", "vec_id", "embedding"),
          model, cuts, lateness = lateness, dropCounter = Some(dropAcc))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      val batchWalls = Seq.newBuilder[Double]
      val batchDrops = Seq.newBuilder[Long]
      var prevDrops = 0L
      try {
        rows.grouped(math.max(1, rows.length / 8 + 1)).foreach { chunk =>
          val t0 = System.nanoTime()
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
          batchWalls += (System.nanoTime() - t0) / 1e9
          batchDrops += dropAcc.value - prevDrops
          prevDrops = dropAcc.value
        }
        val stateRows = Option(q.lastProgress)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
        val out = spark.table(sink)
          .select("vec_a", "vec_b").distinct().cache()
        val nPairs = out.count()
        val found = out
          .filter(col("vec_b") === col("vec_a") + n && col("vec_a") % 20 === 0)
          .count()
        if (variant == "unbounded")
          unboundedPairs = out.collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val walls = batchWalls.result()
        val drops = batchDrops.result()
        println(s"""{"probe":"stream_embdedup","variant":"$variant",""" +
          s""""n_vectors":${rows.length},"dim":$dim,""" +
          s""""batch_walls_sec":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
          s""""batch_ring_drops":[${drops.mkString(",")}],""" +
          s""""state_rows":$stateRows,"pairs":$nPairs,""" +
          s""""planted":$planted,"planted_found":$found}""")
        assert(found == planted, s"$variant planted recall $found/$planted")
        assert(dropAcc.value == 0L,
          s"$variant organic stream dropped ${dropAcc.value} priors — the " +
            "ring cap is biting where it must not")
        if (variant == "unbounded")
          assert(walls.takeRight(2).min <= 1.3 * walls.head,
            s"unbounded-horizon walls grew: ${walls.mkString(",")}")
        System.out.flush()
      } finally q.stop()
    }

    // RESTART variant: unbounded horizon on a durable checkpoint + parquet
    // sink, killed after batch 4 of 8, restarted from the checkpoint.
    {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_probe_restart_ckpt").toString
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_probe_restart_out").toString
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
      val dropAcc = spark.sparkContext.longAccumulator("ring_drops_restart")
      def start() = graft.streaming.StreamOps
        .embNearDupStream(mem.toDF().toDF("ts", "vec_id", "embedding"),
          model, cuts, lateness = "365 days", dropCounter = Some(dropAcc))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val chunks = rows.grouped(math.max(1, rows.length / 8 + 1)).toSeq
      val batchWalls = Seq.newBuilder[Double]
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
          cs: Seq[Seq[(java.sql.Timestamp, Long, Seq[Float])]]): Unit =
        cs.foreach { chunk =>
          val t0 = System.nanoTime()
          mem.addData(chunk)
          q.processAllAvailable()
          batchWalls += (System.nanoTime() - t0) / 1e9
        }
      val q1 = start()
      try feed(q1, chunks.take(4).map(_.toSeq)) finally q1.stop() // KILL
      val q2 = start() // restart from the checkpoint
      try feed(q2, chunks.drop(4).map(_.toSeq)) finally q2.stop()
      val out = spark.read.parquet(outDir)
        .select("vec_a", "vec_b").distinct().cache()
      val restartPairs = out.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = out
        .filter(col("vec_b") === col("vec_a") + n && col("vec_a") % 20 === 0)
        .count()
      val walls = batchWalls.result()
      println(s"""{"probe":"stream_embdedup","variant":"restart",""" +
        s""""n_vectors":${rows.length},"dim":$dim,"killed_after_batch":4,""" +
        s""""batch_walls_sec":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
        s""""pairs":${restartPairs.size},"planted":$planted,""" +
        s""""planted_found":$found,"ring_drops":${dropAcc.value},""" +
        s""""equals_uninterrupted":${restartPairs == unboundedPairs}}""")
      assert(found == planted, s"restart planted recall $found/$planted")
      assert(restartPairs == unboundedPairs,
        s"restarted pair set diverged from the uninterrupted run: " +
          s"${(restartPairs -- unboundedPairs).take(5)} extra, " +
          s"${(unboundedPairs -- restartPairs).take(5)} missing")
      // flat walls must RESUME post-restart (batch 5 pays query re-init;
      // the tail must sit back inside the uninterrupted band)
      assert(walls.takeRight(2).min <= 1.3 * walls.head,
        s"post-restart walls grew: ${walls.mkString(",")}")
      System.out.flush()
    }
  }

  /** FULL daily-crawl loop endurance (`dailyloop <n> [days]`, round 11 —
    * the composition claim across OPERATOR FAMILIES that ccchain makes
    * for labels alone): each "day" lands n/days new docs (~6% of them
    * one-word-edited twins of PREVIOUS-day docs, so pair discovery and
    * label resolution must cross persisted-artifact boundaries), and the
    * day's work is exactly production's increment —
    *
    *   delta banding (`bandsOf` on the day only) →
    *   delta pairs (`minhashPairsDelta` vs the PERSISTED band table —
    *     candidates are delta-involving only, verify is semi-joined to
    *     named docs) →
    *   label update (`updateIncremental` onto the persisted labeling,
    *     starting from the EMPTY labeling on day 0 — one code path) →
    *   band-table append (the persisted artifact the next day reads).
    *
    * After the LAST day, ONE full recompute over the whole corpus gates
    * the composition: the unioned incremental pair set must EQUAL the
    * full self-join's verified pair set (so no pair is lost or invented
    * across artifact hand-offs), and the chained labeling must equal the
    * full large/small-star labeling (so label drift does not
    * accumulate). Per-day walls print — each day's cost tracks the day,
    * not the history. */
  def dailyLoopLeg(spark: SparkSession, n: Int, days: Int): Unit = {
    import spark.implicits._
    import graft.catalog.DedupQueries
    import graft.ops.ConnectedComponents
    val m = n / days
    val corpus = spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(17)) === 0 && col("id") >= m,
        concat(textOf(col("id") - m), lit(" w_dup")))
        .otherwise(textOf(col("id"))).as("text"))
      .localCheckpoint(eager = true)

    var labels = Seq.empty[(Long, Long)].toDF("node", "component")
      .localCheckpoint(eager = true)
    var bands: org.apache.spark.sql.DataFrame = null
    var allPairs: org.apache.spark.sql.DataFrame = null
    val walls = Seq.newBuilder[Double]
    (0 until days).foreach { d =>
      val day = corpus
        .filter(col("doc_id") >= d.toLong * m && col("doc_id") < (d + 1).toLong * m)
        .localCheckpoint(eager = true) // the day's crawl, not timed
      val soFar = corpus.filter(col("doc_id") < (d + 1).toLong * m)
      val t0 = System.nanoTime()
      val deltaBands = DedupQueries.bandsOf(day).localCheckpoint(eager = true)
      bands = if (bands == null) deltaBands
        else bands.unionAll(deltaBands).localCheckpoint(eager = true)
      val pairs = DedupQueries.minhashPairsDelta(soFar, bands, deltaBands)
        .select("doc_a", "doc_b").localCheckpoint(eager = true)
      labels = ConnectedComponents
        .updateIncremental(labels, pairs, srcCol = "doc_a", dstCol = "doc_b")
        .localCheckpoint(eager = true)
      labels.count()
      walls += (System.nanoTime() - t0) / 1e9
      allPairs = if (allPairs == null) pairs else allPairs.unionAll(pairs)
    }
    // full recompute over the whole corpus: every pair + star labels
    val fullBands = DedupQueries.bandsOf(corpus).localCheckpoint(eager = true)
    val fullPairs = DedupQueries.minhashPairsDelta(corpus, fullBands, fullBands)
      .select("doc_a", "doc_b").localCheckpoint(eager = true)
    val pairDiff =
      allPairs.exceptAll(fullPairs).count() + fullPairs.exceptAll(allPairs).count()
    require(pairDiff == 0,
      s"incremental pair union != full recompute: $pairDiff rows differ")
    val fullLabels = ConnectedComponents.componentsLargeSmallStar(
      fullPairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))).cache()
    val labelDiff = labels.as("i")
      .join(fullLabels.as("f"), col("i.node") === col("f.node"))
      .filter(col("i.component") =!= col("f.component")).count() +
      math.abs(labels.count() - fullLabels.count())
    require(labelDiff == 0,
      s"chained labels != full recompute after day $days: $labelDiff")
    val ws = walls.result()
    println(s"""{"probe":"daily_loop","n_docs":$n,"days":$days,""" +
      s""""docs_per_day":$m,"pairs":${fullPairs.count()},""" +
      s""""day_walls_sec":[${ws.map(w => f"$w%.2f").mkString(",")}],""" +
      s""""pairs_equal":true,"labels_equal":true}""")
    System.out.flush()
  }

  /** ~100-epoch maintained crawl→near-dup composition probe (r16,
    * VERDICT item 5 — "the verify stage still scans more of the doc
    * store than the epoch's delta needs; show pruned bytes-read at ~100
    * epochs"): drives [[graft.streaming.StreamOps.applyCrawlDedupBatch]]
    * over `epochs` delta batches with in-line clustered compaction every
    * `compactEvery` epochs (the production choreography, minus the
    * streaming engine — the function IS the per-batch body), measuring
    * PER-EPOCH input bytes read and wall under two verify shapes over
    * the SAME doc_id-clustered compacted store:
    *
    *  - pruned  — the production `minhashPairsDelta`: two-tier endpoint
    *    fetch whose small-set tier pushes a literal doc_id IN predicate
    *    into the doc-store scan, so parquet row-group stats against the
    *    clustered layout prune the fetch to the pair endpoints;
    *  - control — the pre-r15 shape: the endpoint fetch forced to the
    *    semi-join tier (no pushable predicate), which scans the whole
    *    accumulated store every epoch regardless of clustering.
    *
    * Maintained labels must be identical between shapes (asserted); the
    * artifact is the last-10-epoch mean bytes-read per epoch (control
    * grows with the accumulated corpus, pruned stays delta-sized) and
    * the wall curves. */
  def crawlPruneLeg(
      spark: SparkSession, n: Int, epochs: Int, compactEvery: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val perEpoch = math.max(1, n / epochs)
    val corpus = spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(17)) === 0 && col("id") >= perEpoch,
        concat(textOf(col("id") - perEpoch), lit(" w_dup")))
        .otherwise(textOf(col("id"))).as("text"))
      .localCheckpoint(eager = true)

    val lock = new Object
    var bytes = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        lock.synchronized {
          if (t.taskMetrics != null) bytes += t.taskMetrics.inputMetrics.bytesRead
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // named defs, not inline synchronized expressions: scalac 2.13
    // miscompiles a value-returning synchronized block inside the epoch
    // lambda below (VerifyError: double not assignable to long)
    def resetBytes(): Unit = lock.synchronized { bytes = 0L }
    def snapBytes(): Long = lock.synchronized(bytes)

    // the pre-r15 verify shape: same candidate join, endpoint fetch
    // FORCED to the semi-join tier (nothing pushes into the scan)
    def pairsDeltaSemiJoin(
        allDocs: org.apache.spark.sql.DataFrame,
        allBands: org.apache.spark.sql.DataFrame,
        deltaBands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
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
      val pairDocs = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
      DedupQueries.verifyJaccardProbe(
        pairs, allDocs.join(pairDocs, Seq("doc_id"), "left_semi"))
    }

    val pruneRoot = graft.core.Scratch.dir("crawlprune")
    def runShape(
        tag: String,
        pairsDelta: (org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Seq[Double], Seq[Double]) = {
      val root = s"$pruneRoot/$tag"
      val (docStore, bandStore, labelStore) =
        (s"$root/docs", s"$root/bands", s"$root/labels")
      val walls = Seq.newBuilder[Double]
      val mbs = Seq.newBuilder[Double]
      (0 until epochs).foreach { e =>
        val batch = corpus
          .filter(col("doc_id") >= e.toLong * perEpoch &&
            col("doc_id") < (e + 1).toLong * perEpoch)
          .select(col("doc_id"), array(col("text")).as("kept"))
          .localCheckpoint(eager = true) // the epoch's crawl; not timed
        Thread.sleep(150) // listener settle
        resetBytes()
        val t0 = System.nanoTime()
        graft.streaming.StreamOps.applyCrawlDedupBatch(
          batch, e, docStore, bandStore, labelStore,
          DedupQueries.bandsOf, pairsDelta)
        if (compactEvery > 0 && e > 0 && e % compactEvery == 0)
          graft.streaming.StreamOps
            .compactCrawlDedupStores(spark, docStore, bandStore)
        walls += (System.nanoTime() - t0) / 1e9
        Thread.sleep(150)
        mbs += snapBytes() / 1e6
      }
      val labels = graft.streaming.StreamOps
        .currentComponents(spark, labelStore).get.localCheckpoint(eager = true)
      (labels, walls.result(), mbs.result())
    }

    val (prunedLabels, prunedWalls, prunedMbs) =
      runShape("pruned", DedupQueries.minhashPairsDelta)
    val (controlLabels, controlWalls, controlMbs) =
      runShape("control", pairsDeltaSemiJoin)

    // FOCUSED endpoint-fetch A/B over the final clustered store: the
    // per-epoch totals above are dominated by the band-table read (the
    // corpus-sized artifact banding-vs-all inherently re-reads each
    // epoch, in BOTH shapes), so isolate the verify stage's doc fetch —
    // the thing the two-tier pruning actually changes. Endpoint ids
    // mirror a real epoch's pairs: the last delta's planted dups plus
    // their originals one epoch back (two contiguous id ranges, the
    // shape the doc_id-clustered layout serves).
    val finalDocs = graft.streaming.StreamOps
      .currentCrawlDocs(spark, s"$pruneRoot/pruned/docs").get
      .select(col("doc_id"), array_join(col("kept"), " ").as("text"))
    val lastDelta = ((n - perEpoch) until n).filter(_ % 17 == 0).map(_.toLong)
    val endpointIds = (lastDelta ++ lastDelta.map(_ - perEpoch)).sorted
    def fetchBytes(fetch: org.apache.spark.sql.DataFrame): Double = {
      Thread.sleep(150)
      resetBytes()
      fetch.agg(count(lit(1)), sum(length(col("text")))).collect()
      Thread.sleep(150)
      snapBytes() / 1e6
    }
    val litMb = fetchBytes(
      finalDocs.filter(col("doc_id").isin(endpointIds: _*)))
    val idsDf = endpointIds.toDF("doc_id")
    val semiMb = fetchBytes(finalDocs.join(idsDf, Seq("doc_id"), "left_semi"))
    val labelDiff = prunedLabels.as("p")
      .join(controlLabels.as("c"), col("p.node") === col("c.node"))
      .filter(col("p.component") =!= col("c.component")).count() +
      math.abs(prunedLabels.count() - controlLabels.count())
    require(labelDiff == 0,
      s"pruned labels != control labels: $labelDiff rows differ")
    def tail10(xs: Seq[Double]): Double =
      xs.takeRight(10).sum / math.max(1, xs.takeRight(10).size)
    println(s"""{"probe":"crawl_prune","n_docs":$n,"epochs":$epochs,""" +
      s""""docs_per_epoch":$perEpoch,"compact_every":$compactEvery,""" +
      f""""pruned_last10_mb_per_epoch":${tail10(prunedMbs)}%.1f,""" +
      f""""control_last10_mb_per_epoch":${tail10(controlMbs)}%.1f,""" +
      f""""pruned_last10_wall_s":${tail10(prunedWalls)}%.2f,""" +
      f""""control_last10_wall_s":${tail10(controlWalls)}%.2f,""" +
      s""""endpoint_ids":${endpointIds.size},""" +
      f""""endpoint_fetch_literal_mb":$litMb%.2f,""" +
      f""""endpoint_fetch_semijoin_mb":$semiMb%.2f,""" +
      s""""pruned_total_wall_s":${prunedWalls.sum.round},""" +
      s""""control_total_wall_s":${controlWalls.sum.round},""" +
      s""""labels_equal":true}""")
    System.out.flush()
  }

  /** The synthetic 40-word doc text used by the stream/daily legs. */
  private def textOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ", transform(sequence(lit(0), lit(39)),
      j => format_string("w%04d", pmod(xxhash64(id, j), lit(2000)))))

  /** Boilerplate HOT-BUCKET streaming leg (`streamboiler <n> [dupEvery]`,
    * round 11 — the claim behind SigNearDupProcessor's occupancy ring):
    * every `dupEvery`-th doc is one of 4 identical templates, so all 16
    * band buckets of a template collect EVERY copy — the streaming form
    * of the batch hot-bucket trap, where the round-10 layout's state
    * value (the bucket's whole signature list) grew with the copy count
    * and each arrival's compare + rewrite cost grew with it, under a
    * 365-day horizon that never expires anything. With the newest-64
    * ring, per-arrival work and per-bucket state are capped, so:
    *
    *  - per-batch walls must be FLAT (last-two min ≤ 1.3× batch 2 —
    *    batch 1 carries JIT), asserted;
    *  - DETECTION stays complete under the cap: every template copy
    *    except each template's first arrival must emit ≥ 1 pair (the
    *    ring keeps "is this a duplicate?" answerable even while it
    *    bounds pair ENUMERATION — the full C(m,2) closure is the batch
    *    pass's job, which collapses it via exact-dedup-before-banding),
    *    asserted exactly;
    *  - emitted volume is reported next to the C(m,2) a capless run
    *    would eventually enumerate. */
  def streamBoilerLeg(spark: SparkSession, n: Int, dupEvery: Int): Unit = {
    import spark.implicits._
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(dupEvery.toLong)) === 0,
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => format_string("b%02d_%04d",
            pmod(expr(s"id div $dupEvery"), lit(4L)),
            j * lit(13)))))
        .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => format_string("w%07d", pmod(xxhash64(col("id"), j), lit(2000000L))))))
        .as("text"))
    val rows = docs
      .select(timestamp_micros((col("doc_id") + 1000000L) * 1000000L).as("ts"),
        col("doc_id"), col("text"))
      .as[(java.sql.Timestamp, Long, String)].collect().sortBy(_._2)
    val templateIds = rows.iterator.map(_._2).filter(_ % dupEvery == 0).toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
    val dropAcc = spark.sparkContext.longAccumulator("ring_drops_boiler")
    val q = graft.streaming.StreamOps.withRocksDbStateStore(spark) {
      graft.streaming.StreamOps
        .nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
          lateness = "365 days", family = "affine",
          dropCounter = Some(dropAcc))
        .writeStream.format("memory").queryName("probe_boiler_sink")
        .outputMode("append").start()
    }
    val batchWalls = Seq.newBuilder[Double]
    val batchDrops = Seq.newBuilder[Long]
    var prevDrops = 0L
    try {
      rows.grouped(math.max(1, rows.length / 8 + 1)).foreach { chunk =>
        val t0 = System.nanoTime()
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
        batchWalls += (System.nanoTime() - t0) / 1e9
        batchDrops += dropAcc.value - prevDrops
        prevDrops = dropAcc.value
      }
      val stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      val emitted = spark.table("probe_boiler_sink").count()
      val detected = spark.table("probe_boiler_sink")
        .select("doc_b").distinct().as[Long].collect()
        .count(templateIds.contains)
      val m = templateIds.size / 4
      val quadratic = 4L * m * (m - 1) / 2
      val walls = batchWalls.result()
      val drops = batchDrops.result()
      println(s"""{"probe":"stream_boiler","n_docs":${rows.length},""" +
        s""""template_rows":${templateIds.size},""" +
        s""""batch_walls_sec":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
        s""""batch_ring_drops":[${drops.mkString(",")}],""" +
        s""""state_rows":$stateRows,"emitted_rows":$emitted,""" +
        s""""capless_distinct_pairs":$quadratic,""" +
        s""""detected_copies":$detected,""" +
        s""""expected_copies":${templateIds.size - 4}}""")
      assert(detected == templateIds.size - 4,
        s"ring lost duplicate DETECTION: $detected of ${templateIds.size - 4}")
      assert(walls.takeRight(2).min <= 1.3 * walls(1),
        s"hot-bucket walls grew: ${walls.mkString(",")}")
      // the cap MUST report drops here — each template's 16 band buckets
      // collect every copy, far past the 64-entry ring; a zero counter
      // would mean the drop observability is broken
      assert(dropAcc.value > 0L,
        "hot-bucket stream reported zero ring drops — observability broken")
      System.out.flush()
    } finally q.stop()
  }

  def streamNearDupLeg(spark: SparkSession, n: Int, family: String = "md5"): Unit = {
    import spark.implicits._
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => format_string("w%04d", pmod(xxhash64(col("id"), j), lit(2000)))))
        .as("text"))
    val twins = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + n).as("doc_id"),
        concat(col("text"), lit(" w_dup")).as("text"))
    val rows = base.unionAll(twins)
      .select(timestamp_micros((col("doc_id") + 1000000L) * 1000000L).as("ts"),
        col("doc_id"), col("text"))
      .as[(java.sql.Timestamp, Long, String)].collect().sortBy(_._2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamOps.withRocksDbStateStore(spark) {
      graft.streaming.StreamOps
        .nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
          lateness = "365 days", family = family)
        .writeStream.format("memory").queryName("probe_neardup_sink")
        .outputMode("append").start()
    }
    val batchWalls = Seq.newBuilder[Double]
    try {
      rows.grouped(math.max(1, rows.length / 8 + 1)).foreach { chunk =>
        val t0 = System.nanoTime()
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
        batchWalls += (System.nanoTime() - t0) / 1e9
      }
      val stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      val out = spark.table("probe_neardup_sink")
        .select("doc_a", "doc_b", "n_agree").distinct().cache()
      val nPairs = out.count()
      val planted = (n + 19) / 20
      val found = out
        .filter(col("doc_b") === col("doc_a") + n && col("doc_a") % 20 === 0)
        .count()
      val walls = batchWalls.result()
      println(s"""{"probe":"stream_neardup","family":"$family","n_docs":${rows.length},""" +
        s""""batch_walls_sec":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
        s""""state_rows":$stateRows,"pairs":$nPairs,""" +
        s""""planted":$planted,"planted_found":$found}""")
    } finally q.stop()
  }
}
