package graft.index

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Distances
import graft.ops.SimSearch

/** The reference's core query engine — a forest of random-projection LSH
  * trees (the Annoy algorithm) — re-expressed Spark-first.
  *
  * Reference semantics (all verified against /root/reference):
  *  - hyperplane through the midpoint of two sampled points, perpendicular
  *    to their connecting line; side predicate `dot(coeff, p) + const >= 0`
  *    (src/database/index/lsh.rs:20-43, 192-248)
  *  - recursive splitting until a node holds < max_node_size ids
  *    (lsh.rs:250-267; defaults num_trees=15, max_node_size=5,
  *    lsh.rs:125-137)
  *  - query = descend each tree to a leaf, top up from sibling ("backup")
  *    branches when the leaf is short, union candidates across trees,
  *    exact-rerank, take k (lsh.rs:290-348, 544-565)
  *
  * Spark-first architecture (NOT the reference's per-node KV walk):
  *  - the tree *structure* is built on the driver from a bounded seeded
  *    sample (exact when the corpus fits the cap) — hyperplanes are a few KB
  *    and broadcast to executors;
  *  - the corpus is routed through the broadcast forest in ONE narrow map
  *    (no shuffle), producing a `(vec_id, tree_id, leaf_id)` bucket table
  *    written as one flat parquet table whose files each hold one
  *    contiguous (tree_id, leaf_id) range, sorted (every query probes every
  *    tree, so `tree_id` directories would prune nothing);
  *  - a query probes |trees| · (1 + backups) leaves: the probe list is tiny,
  *    broadcast, and the bucket join reads the table without shuffling it
  *    (no scan predicate: a lookup's probed leaves span nearly every
  *    file's range);
  *  - rerank takes one of three join plans, chosen from a true upper bound
  *    on the candidate pairs or from their count, never from an estimate
  *    ([[topK]]), and reuses the bounded top-k aggregate (map-side
  *    partial).
  *
  * Documented deviation (SURVEY.md §7.5): split points are sampled from the
  * subset being split (Annoy-correct), not from all vectors as the reference
  * does (lsh.rs:197-201) — better-balanced trees, same contract.
  */
object LshForest {

  /** The forest's one live Broadcast per SparkContext (every route and
    * probe call, and the embedding near-dup stream, read it). */
  private[graft] val broadcastModel =
    new graft.core.BroadcastCache[ForestModel, ForestModel](identity)

  sealed trait Node extends Serializable
  final case class Inner(coeff: Array[Double], const: Double, left: Node, right: Node)
      extends Node
  /** sampleSize = how many build-sample points landed here; at scale the
    * full-data leaf population is ≈ sampleSize · (n / sampleTotal). */
  final case class Leaf(leafId: Int, sampleSize: Int) extends Node

  final case class Options(
      numTrees: Int = 15,
      maxNodeSize: Int = 5,
      seed: Long = 42L,
      sampleCap: Int = 65536)

  final case class ForestModel(
      trees: Array[Node],
      opts: Options,
      sampleTotal: Int) extends Serializable {
    def numTrees: Int = trees.length
  }

  /** Signed distance-to-hyperplane numerator: dot(coeff, p) + const. */
  private def margin(coeff: Array[Double], const: Double, p: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(coeff.length, p.length)
    while (i < n) { s += coeff(i) * p(i); i += 1 }
    s + const
  }

  /** `Hyperplane::point_is_above` (reference: lsh.rs:39-43). */
  private def isAbove(coeff: Array[Double], const: Double, p: Array[Double]): Boolean =
    margin(coeff, const, p) >= 0.0

  /** Build one tree recursively on the sample (reference: `build_a_tree`,
    * lsh.rs:250-267). A random split that fails (both sampled points equal,
    * or every point on one side) retries, then falls back to a
    * deterministic axis-median split on the widest dimension — guaranteed
    * progress unless the node's points are bit-identical, in which case the
    * node becomes a leaf (duplicates cannot recurse forever). */
  private def buildTree(
      sample: Array[Array[Double]], ids: Array[Int], rng: Random,
      maxNodeSize: Int, nextLeaf: () => Int): Node = {
    if (ids.length < maxNodeSize) return Leaf(nextLeaf(), ids.length)
    val dim = sample(ids(0)).length

    def trySplit(coeff: Array[Double], const: Double): Option[Node] = {
      val (above, below) = ids.partition(i => isAbove(coeff, const, sample(i)))
      if (above.isEmpty || below.isEmpty) None
      else Some(Inner(
        coeff, const,
        buildTree(sample, below, rng, maxNodeSize, nextLeaf),
        buildTree(sample, above, rng, maxNodeSize, nextLeaf)))
    }

    var attempt = 0
    while (attempt < 5) {
      // `build_hyperplane` (lsh.rs:192-248): two distinct sampled points,
      // hyperplane ⟂ their connecting line through the midpoint.
      val ai = ids(rng.nextInt(ids.length))
      val bi = ids(rng.nextInt(ids.length))
      if (ai != bi) {
        val a = sample(ai)
        val b = sample(bi)
        val coeff = new Array[Double](dim)
        var const = 0.0
        var j = 0
        while (j < dim) {
          coeff(j) = b(j) - a(j)
          const -= coeff(j) * ((a(j) + b(j)) / 2.0)
          j += 1
        }
        trySplit(coeff, const) match {
          case Some(n) => return n
          case None => ()
        }
      }
      attempt += 1
    }
    // Deterministic fallback: median split on the widest dimension.
    var bestDim = 0
    var bestSpread = -1.0
    var j = 0
    while (j < dim) {
      var lo = Double.MaxValue; var hi = Double.MinValue
      ids.foreach { i =>
        val x = sample(i)(j)
        if (x < lo) lo = x
        if (x > hi) hi = x
      }
      if (hi - lo > bestSpread) { bestSpread = hi - lo; bestDim = j }
      j += 1
    }
    if (bestSpread <= 0.0) return Leaf(nextLeaf(), ids.length) // all identical
    val vals = ids.map(i => sample(i)(bestDim)).sorted
    val median = vals(vals.length / 2)
    val coeff = new Array[Double](dim)
    coeff(bestDim) = 1.0
    // strictly-below median goes left; guaranteed non-empty both sides
    // unless all values equal the median (then shift the threshold).
    trySplit(coeff, -median)
      .orElse(trySplit(coeff, -vals(vals.length - 1)))
      .getOrElse(Leaf(nextLeaf(), ids.length))
  }

  /** Row cap bounded by BYTES, not rows: `cap` rows is ~33 MB of driver
    * memory at the 64-d fixture but ~400 MB at the engine's 768-d
    * image/audio dims. Above 64-d the row cap scales down by 64/dim
    * (floor 4096 rows so tree quality survives very high dims). */
  private[graft] def byteBoundedCap(cap: Int, dim: Int): Int =
    if (dim <= 64) cap else math.max(4096, (cap.toLong * 64 / dim).toInt)

  /** Bounded deterministic sample: the `sampleCap` rows with the smallest
    * xxhash64(vec_id, seed). Exact (= the whole corpus) whenever
    * n <= sampleCap. */
  private def sampleVectors(
      vectors: DataFrame, opts: Options, vecId: String): Array[Array[Double]] = {
    val dim = vectors.select(size(col("embedding"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(64)
    vectors
      .select(col(vecId), Distances.asDouble(col("embedding")).as("emb"))
      .withColumn("h", xxhash64(col(vecId), lit(opts.seed)))
      .orderBy("h").limit(byteBoundedCap(opts.sampleCap, dim))
      .select("emb")
      .collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** `build_index` (reference: lsh.rs:411-429): numTrees trees differing
    * only by RNG seed, built driver-side on the bounded sample. */
  def build(vectors: DataFrame, opts: Options = Options(), vecId: String = "vec_id")
      : ForestModel = {
    val sample = sampleVectors(vectors, opts, vecId)
    val ids = sample.indices.toArray
    val trees = (0 until opts.numTrees).map { t =>
      val rng = new Random(opts.seed * 1000003L + t)
      var leafCounter = -1
      val nextLeaf = () => { leafCounter += 1; leafCounter }
      buildTree(sample, ids, rng, opts.maxNodeSize, nextLeaf)
    }.toArray
    ForestModel(trees, opts, sample.length)
  }

  /** All leaf ids present in a tree — the REACHABLE bucket set (stale
    * bucket rows left behind by [[splitLeaf]] carry ids absent here). */
  def leafIds(n: Node): Seq[Int] = n match {
    case Leaf(id, _) => Seq(id)
    case Inner(_, _, l, r) => leafIds(l) ++ leafIds(r)
  }

  private def maxLeafId(n: Node): Int = n match {
    case Leaf(id, _) => id
    case Inner(_, _, l, r) => math.max(maxLeafId(l), maxLeafId(r))
  }

  private def replaceLeaf(n: Node, leafId: Int, sub: Node): Node = n match {
    case Leaf(id, _) if id == leafId => sub
    case l: Leaf => l
    case Inner(c, k, l, r) =>
      Inner(c, k, replaceLeaf(l, leafId, sub), replaceLeaf(r, leafId, sub))
  }

  private def scaleSizes(n: Node, s: Double): Node = n match {
    case Leaf(id, sz) => Leaf(id, math.max(1, math.round(sz * s).toInt))
    case Inner(c, k, l, r) => Inner(c, k, scaleSizes(l, s), scaleSizes(r, s))
  }

  /** I8 leaf-local re-split (reference: lsh.rs:350-382 splits ONE
    * overflowing leaf in place — not the whole forest): build a subtree
    * over the leaf's member points and graft it where the leaf was. Fresh
    * leaf ids are allocated past the tree's current max, so every other
    * bucket row stays valid and the old leaf id simply becomes unreachable.
    * `sizeScale` converts full-data member counts back to build-sample
    * units (leaf sampleSize drives probe budgets).
    *
    * Returns the updated model plus each point's new leaf id (parallel to
    * `points`), or None when the members cannot be split (all points
    * identical — the leaf stays as is). */
  def splitLeaf(
      model: ForestModel, treeId: Int, leafId: Int,
      points: Array[Array[Double]], sizeScale: Double = 1.0)
      : Option[(ForestModel, Array[Int])] = {
    val tree = model.trees(treeId)
    var next = maxLeafId(tree)
    val nextLeaf = () => { next += 1; next }
    val rng = new Random(
      model.opts.seed * 1000003L + treeId.toLong * 7919L + leafId)
    buildTree(points, points.indices.toArray, rng,
      model.opts.maxNodeSize, nextLeaf) match {
      case _: Leaf => None // unsplittable: identical points
      case sub0 =>
        val sub = scaleSizes(sub0, sizeScale)
        val assign = points.map(p => leafFor(sub, p).leafId)
        Some((
          model.copy(trees = model.trees.updated(treeId, replaceLeaf(tree, leafId, sub))),
          assign))
    }
  }

  /** Descend to the leaf for a point (reference: `insert` descent,
    * lsh.rs:350-365). */
  private[graft] def leafFor(root: Node, p: Array[Double]): Leaf = {
    var n = root
    while (true) {
      n match {
        case l: Leaf => return l
        case Inner(c, k, left, right) =>
          n = if (isAbove(c, k, p)) right else left
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `tree_result` probe list (reference: lsh.rs:290-348): the query's main
    * leaf first, then backup ("sibling") branches until the expected
    * candidate count reaches `need` (in build-sample units).
    *
    * Selection order deviates from the reference's deepest-first backtrack:
    * backup branches are explored best-first by hyperplane margin (a
    * branch is prioritized by the smallest |margin| crossed to reach it) —
    * the probe order of the published Annoy algorithm. Same top-up
    * contract, strictly better leaves for the same budget. */
  private def probeLeaves(root: Node, p: Array[Double], need: Int): Seq[Int] =
    probeLeavesSized(root, p, need)._1

  /** [[probeLeaves]] plus the accumulated build-sample occupancy of the
    * probed leaves: the exact bucket-row count of the model's own corpus
    * when the build sample was that whole corpus, an underestimate on a
    * capped sample or after inserts grew the leaves ([[routeOnDriver]]). */
  private def probeLeavesSized(
      root: Node, p: Array[Double], need: Int): (Seq[Int], Int) = {
    final case class Entry(priority: Double, node: Node)
    val pq = collection.mutable.PriorityQueue.empty[Entry](Ordering.by(_.priority))
    pq.enqueue(Entry(Double.MaxValue, root))
    val out = collection.mutable.ArrayBuffer.empty[Int]
    var got = 0
    while (got < need && pq.nonEmpty) {
      val e = pq.dequeue()
      e.node match {
        case l: Leaf =>
          out += l.leafId
          got += math.max(l.sampleSize, 1)
        case Inner(c, k, left, right) =>
          val m = margin(c, k, p)
          val (qSide, backup) = if (m >= 0) (right, left) else (left, right)
          // Annoy's priorities: the query side keeps min(parent, +|m|), the
          // backup side min(parent, -|m|). With a max-heap the whole
          // query-side descent (priority >= 0) pops before any backup, and
          // backups then pop nearest-first — the branch whose crossed
          // hyperplane margin is SMALLEST has the least-negative priority.
          // (Round 2 enqueued backups with min(parent, +|m|), which explored
          // the farthest backup first and cost recall per candidate.)
          pq.enqueue(Entry(math.min(e.priority, math.abs(m)), qSide))
          pq.enqueue(Entry(math.min(e.priority, -math.abs(m)), backup))
      }
    }
    (out.toSeq, got)
  }

  /** Route the corpus through the broadcast forest: ONE narrow projection
    * producing the bucket table (vec_id, tree_id, leaf_id). No shuffle —
    * the scan streams, the forest rides along as a broadcast. */
  def bucketTable(vectors: DataFrame, model: ForestModel, vecId: String = "vec_id")
      : DataFrame = {
    val spark = vectors.sparkSession
    val bc = broadcastModel(spark, model)
    val routeUdf = udf { (emb: Seq[Float]) =>
      val m = bc.value
      val p = new Array[Double](emb.length)
      var i = 0
      while (i < emb.length) { p(i) = emb(i).toDouble; i += 1 }
      m.trees.indices.map(t => (t, leafFor(m.trees(t), p).leafId))
    }
    vectors
      .select(col(vecId), explode(routeUdf(col("embedding"))).as("tl"))
      .select(col(vecId), col("tl._1").as("tree_id"), col("tl._2").as("leaf_id"))
  }

  /** Persist the bucket table as one flat parquet table (tree_id is a data
    * column, not a directory), each file sorted by (tree_id, leaf_id) over
    * one contiguous leaf range, so its min/max stats name the leaves it
    * holds.
    *
    * The shuffle key is a sub-leaf slice id, not tree_id: hashing on
    * tree_id alone caps write parallelism at numTrees (15 lumpy tasks for
    * a corpus-sized sort+encode — the build bottleneck at 10⁸+ rows).
    * Each tree's leaf range splits into `slices` contiguous chunks, every
    * task sorts and writes its own chunk, and because a chunk is one
    * tree's contiguous leaf_id range the resulting files keep a single
    * tree_id and tight min/max leaf_id stats. Later appends (incremental
    * inserts, compaction) add flat files of their own, each sorted the
    * same way. */
  def writeIndex(
      vectors: DataFrame, model: ForestModel, path: String,
      vecId: String = "vec_id"): Unit = {
    val spark = vectors.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val slices = math.max(1, (2 * par + model.numTrees - 1) / model.numTrees)
    val leafSpan = model.trees.map(t => maxLeafId(t) + 1)
    val chunk = leafSpan.map(span => math.max(1, (span + slices - 1) / slices))
    val chunkCol = element_at(lit(chunk), col("tree_id") + 1)
    bucketTable(vectors, model, vecId)
      .withColumn("slice_id",
        col("tree_id") * slices + (col("leaf_id") / chunkCol).cast("int"))
      .repartition(model.numTrees * slices, col("slice_id"))
      .sortWithinPartitions("tree_id", "leaf_id")
      .drop("slice_id")
      .write.mode("overwrite").parquet(path)
  }

  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Per-query probe list over all trees, with backup-branch top-up sized
    * for `searchK` candidates per tree (in sample units). Output:
    * (query_id, q_emb, tree_id, leaf_id) — |queries| · numTrees · (1+backups)
    * rows; tiny, broadcastable. */
  def routeQueries(
      queries: DataFrame, model: ForestModel, searchK: Int,
      queryId: String = "query_id"): DataFrame = {
    val spark = queries.sparkSession
    val bc = broadcastModel(spark, model)
    val probeUdf = udf { (emb: Seq[Float]) =>
      val m = bc.value
      val p = new Array[Double](emb.length)
      var i = 0
      while (i < emb.length) { p(i) = emb(i).toDouble; i += 1 }
      m.trees.indices.flatMap(t =>
        probeLeaves(m.trees(t), p, searchK).map(l => (t, l)))
    }
    queries.select(
      col(queryId),
      Distances.asDouble(col("embedding")).as("q_emb"),
      explode(probeUdf(col("embedding"))).as("tl"))
      .select(col(queryId), col("q_emb"),
        col("tl._1").as("tree_id"), col("tl._2").as("leaf_id"))
  }

  /** Candidate generation: probed buckets joined against the bucket table,
    * deduped across trees (reference: DashSet union, lsh.rs:550-556).
    * The probe list is broadcast, so the bucket table never shuffles, and
    * the join alone selects the probed leaves. A scan predicate built
    * from them (per-tree leaf ranges) skipped no rows: a batch's probed
    * leaves span every file's (tree_id, leaf_id) range. Measured on a
    * 160-query batch over a 14k-vector, 210k-bucket-row engine table
    * after appends and one compaction: 356,520 records read with it and
    * without it, 472,658 pairs both ways. Nothing bounds these pairs
    * before they are counted, so [[topK]] reranks them with its second or
    * third plan. */
  def candidates(
      queries: DataFrame, buckets: DataFrame, model: ForestModel, searchK: Int,
      queryId: String = "query_id", vecId: String = "vec_id"): DataFrame =
    buckets
      .join(broadcast(routeQueries(queries, model, searchK, queryId)),
        Seq("tree_id", "leaf_id"))
      .select(col(queryId), col("q_emb"), col(vecId))
      .dropDuplicates(queryId, vecId)

  private def toDoubleArray(v: Any): Array[Double] = v match {
    case s: scala.collection.Seq[_] =>
      val out = new Array[Double](s.length)
      var i = 0
      s.foreach { x =>
        out(i) = x match {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }
        i += 1
      }
      out
    case a: Array[Float] => a.map(_.toDouble)
    case a: Array[Double] => a
  }

  /** Query batches at or below this size route driver-side; larger
    * batches keep the fully distributed probe pipeline ([[candidates]]). */
  private[graft] val SmallBatchCap = 128

  /** The most candidate rows the rerank broadcasts; past it the pairs
    * hash-join the vectors instead. */
  private val MaxBroadcastPairs = 2000000L

  /** Driver-side routing of a small batch: its (query, tree, leaf) probe
    * rows, and an upper bound on the bucket rows they select (pairs found
    * by several trees counted once per tree).
    *
    * With `liveRows` (the live vector count of an engine whose inserts
    * append bucket rows without touching the model) the bound is
    * |Q| · numTrees · liveRows: each tree holds one reachable bucket row
    * per live vector, a query probes distinct leaves of a tree, and rows
    * stale from leaf splits sit under leaf ids no probe reaches. Without
    * it, `buckets` must be the bucket table of the model's own corpus:
    * when the build sample was that whole corpus the probed leaves'
    * summed sample occupancy is exact, otherwise nothing bounds the
    * pairs before they are counted (Long.MaxValue). */
  private[graft] def routeOnDriver(
      qEmbs: Seq[(Any, Array[Double])], model: ForestModel, searchK: Int,
      liveRows: Option[Long]): (Seq[org.apache.spark.sql.Row], Long) = {
    import org.apache.spark.sql.Row
    var occupancy = 0L
    val probeRows = collection.mutable.ArrayBuffer.empty[Row]
    for ((qid, p) <- qEmbs; t <- model.trees.indices) {
      val (leaves, got) = probeLeavesSized(model.trees(t), p, searchK)
      occupancy += got
      leaves.foreach(l => probeRows += Row(qid, t, l))
    }
    val sampleExact = qEmbs.headOption.forall { case (_, p) =>
      model.sampleTotal < byteBoundedCap(model.opts.sampleCap, p.length) }
    val bound = liveRows match {
      case Some(n) => qEmbs.length.toLong * model.numTrees * n
      case None => if (sampleExact) occupancy else Long.MaxValue
    }
    (probeRows.toSeq, bound)
  }

  /** Exact rerank of candidate (query, vec) pairs, in one of three plans:
    *  1. `bound` <= 2M rows: broadcast the pairs and the queries, with no
    *     job before the action;
    *  2. otherwise materialize the pairs once (localCheckpoint) and count
    *     them, then broadcast when the count is <= 2M;
    *  3. otherwise a plain hash join: both sides hash on vecId, nothing
    *     collects anywhere.
    * `bound` must be a true upper bound on `cand`'s rows, never a guess. */
  private def rerank(
      cand: DataFrame, q: DataFrame, bound: Long, vectors: DataFrame, k: Int,
      metric: Distances.Metric, queryId: String, vecId: String,
      roundTo: Int): DataFrame = {
    val (pairs, fits) =
      if (bound <= MaxBroadcastPairs) (cand, true)
      else {
        val c = cand.localCheckpoint()
        (c, c.count() <= MaxBroadcastPairs)
      }
    SimSearch.rerankPairs(pairs, q, vectors, k, metric, queryId, vecId, roundTo,
      broadcastPairs = fits, broadcastQueries = fits)
  }

  /** Default candidate budget: k·numTrees sample points per tree — Annoy's
    * documented serving default (search_k = n·n_trees), floored by the old
    * 4·k knee. The 4·k default was measured on CLUSTERED corpora (where
    * neighbors concentrate in few leaves and the probes saturate early —
    * endurance probes hold recall 1.0 with it at 1M vectors); on a UNIFORM
    * corpus the same budget decays with corpus size (LshTune at the 2,000-
    * vector sf0.1 fixture: 0.765 at searchK=40 vs 0.975 at k·numTrees=150,
    * the QUALITY_r9 finding). k·numTrees keeps the budget corpus-
    * independent — the probe walk is still O(k·numTrees·depth) per query —
    * while covering the geometry-adversarial case. Callers trade recall
    * for latency by passing searchKOpt explicitly. */
  private[graft] def defaultSearchK(k: Int, model: ForestModel): Int =
    math.max(k * model.numTrees, math.max(4 * k, model.opts.maxNodeSize))

  /** `search` (reference: lsh.rs:544-565): candidates from every tree,
    * exact-metric rerank, take k. searchK defaults to [[defaultSearchK]]
    * per tree.
    *
    * A batch of at most [[SmallBatchCap]] queries routes on the driver
    * ([[routeOnDriver]]), where the forest already lives: no job runs
    * before the action when its pair bound is at most 2M rows, which
    * covers single lookups. Its candidate pairs are not deduplicated: a
    * pair found by several trees reaches the rerank once per tree, and the
    * top-k aggregate ([[graft.ops.TopKAgg]], at most one entry per
    * (dist, id)) collapses the repeats inside its bounded buffer, where a
    * `dropDuplicates` would cost a shuffle stage per call. A larger batch
    * takes the distributed [[candidates]] and has no bound before its
    * pairs are counted. Both feed one [[rerank]] and its three plans.
    *
    * The bound's contract: `buckets` is the bucket table of the model's
    * corpus, unless the caller passes `liveRows`, the live row count of a
    * corpus whose inserts appended bucket rows under the model's leaves
    * (see [[routeOnDriver]]).
    *
    * The reference's in-leaf "rank and take n best" (lsh.rs:309-330) is
    * deliberately not reproduced — keeping whole leaves gives a candidate
    * superset, so recall can only be >= the reference's at equal
    * settings. */
  def topK(
      queries: DataFrame, buckets: DataFrame, vectors: DataFrame,
      model: ForestModel, k: Int,
      metric: Distances.Metric = Distances.L2Squared,
      searchKOpt: Option[Int] = None,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4, liveRows: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val searchK = searchKOpt.getOrElse(defaultSearchK(k, model))
    val qRows = queries
      .select(col(queryId), col("embedding")).take(SmallBatchCap + 1)
    if (qRows.length > SmallBatchCap) {
      val cand = candidates(queries, buckets, model, searchK, queryId, vecId)
        .select(col(queryId), col(vecId))
      return rerank(cand, SimSearch.queryEmbeddings(queries, queryId),
        Long.MaxValue, vectors, k, metric, queryId, vecId, roundTo)
    }
    val spark = buckets.sparkSession
    val qIdType = queries.schema(queryId).dataType
    val qEmbs = qRows.toSeq.map(r => (r.get(0), toDoubleArray(r.get(1))))
    val (probeRows, bound) = routeOnDriver(qEmbs, model, searchK, liveRows)
    val probeRel = spark.createDataFrame(probeRows.asJava, StructType(Seq(
      StructField(queryId, qIdType),
      StructField("tree_id", IntegerType),
      StructField("leaf_id", IntegerType))))
    val cand = buckets
      .join(broadcast(probeRel), Seq("tree_id", "leaf_id"))
      .select(col(queryId), col(vecId))
    val qRel = spark.createDataFrame(
      qEmbs.map { case (id, e) => Row(id, e.toSeq) }.asJava,
      StructType(Seq(
        StructField(queryId, qIdType),
        StructField("q_emb", ArrayType(DoubleType)))))
    rerank(cand, broadcast(qRel), bound, vectors, k, metric,
      queryId, vecId, roundTo)
  }

  /** Candidate budget for a FILTERED search: candidates route through the
    * index BEFORE the predicate applies, so only ~selectivity of them
    * survive — the pre-filter budget must grow by 1/selectivity to keep
    * the post-filter shortlist at its unfiltered size. Exhaustive stays
    * exhaustive; a sub-0.01% filter saturates to exhaustive too (at that
    * selectivity scanning the few survivors exactly IS the cheap plan). */
  def scaledBudget(base: Int, kept: Long, total: Long): Int = {
    if (base >= Int.MaxValue) return Int.MaxValue
    val sel =
      if (total <= 0L || kept <= 0L) 1.0
      else kept.toDouble / total
    // Below 1e-4 selectivity the scaled budget would exceed base*1e4 and
    // the expected post-filter survivors drop below k anyway — saturate to
    // exhaustive, as the contract above promises. Scanning the few
    // survivors exactly IS the cheap plan there.
    if (sel < 1e-4) return Int.MaxValue
    math.min(math.ceil(base / sel).toLong, Int.MaxValue.toLong).toInt
  }

  /** Filtered ANN over an index built on the UNFILTERED corpus: narrows
    * `vectors` with `pred` (the predicate reaches the parquet scan of the
    * rerank join) and scales the candidate budget by the measured
    * 1/selectivity via [[scaledBudget]], so callers no longer hand-pick
    * budgets per filter. Selectivity costs one count() on the filtered
    * frame (column-pruned to the predicate's columns); engines with a
    * cached corpus count pass it as `totalOpt` to avoid the second job. */
  def topKFiltered(
      queries: DataFrame, buckets: DataFrame, vectors: DataFrame,
      pred: Column, model: ForestModel, k: Int,
      metric: Distances.Metric = Distances.L2Squared,
      searchKOpt: Option[Int] = None,
      totalOpt: Option[Long] = None,
      queryId: String = "query_id", vecId: String = "vec_id",
      roundTo: Int = 4): DataFrame = {
    val filtered = vectors.filter(pred)
    val total = totalOpt.getOrElse(vectors.count())
    val kept = filtered.count()
    val base = searchKOpt.getOrElse(math.max(4 * k, model.opts.maxNodeSize))
    topK(queries, buckets, filtered, model, k, metric,
      Some(scaledBudget(base, kept, total)), queryId, vecId, roundTo)
  }
}
