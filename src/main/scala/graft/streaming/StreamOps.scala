package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.ZebraEngine

/** Structured Streaming surface (SURVEY.md §7.6; reference has no streaming
  * — its only continuous op is incremental `add`, lsh.rs:440-466).
  *
  * Every transform here is written against the unified DataFrame API: the
  * SAME function runs on a batch DataFrame (verified against the DuckDB
  * oracle via the catalog) and on a streaming DataFrame (verified in
  * StreamingSpec with MemoryStream). That parity is the design point — the
  * batch plan IS the streaming plan, so correctness carries over.
  */
object StreamOps {

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n` and no
    * watermark-only micro-batches, restoring both after. A query pins its
    * state-store partition count to this conf at START: the gates' replays
    * paid 4 batches × 32 partitions of state commit and planning for state
    * that fits a handful (~40% of stream_*_exec wall at sf0.1). The
    * semantics are partition-count-independent. No gate waits on the
    * watermark-only batch: the eager-emitting gates never do, and the
    * watermark-riding ones (stream_sessions_exec, stream_funnel_exec)
    * flush with two far-future sentinel DATA batches instead. */
  def withShufflePartitions[T](s: org.apache.spark.sql.SparkSession, n: Int)
      (body: => T): T =
    withConfs(s, Seq("spark.sql.shuffle.partitions" -> n.toString,
      NoDataBatches -> "false"))(body)

  /** Run `body` with the session confs the near-dup `transformWithState`
    * streams ([[nearDupPairsStream]], [[embNearDupStream]]) run under,
    * restoring the previous values after:
    *  - the RocksDB state-store provider, which `transformWithState`
    *    requires. It is also what a long-lived stream runs anyway: the
    *    default HDFS-backed store clones its whole in-memory map per
    *    batch version, an O(total state) tax per batch;
    *  - changelog checkpointing: each commit writes the batch's changed
    *    keys to a changelog file instead of flushing, checkpointing and
    *    zipping a RocksDB snapshot per state partition;
    *  - no watermark-only micro-batches. Without it every data batch is
    *    followed by an empty batch that only advances the watermark and
    *    fires expiry timers, with its own planning, WAL/offset commit and
    *    per-partition state commit. Dropping it is output-neutral for
    *    these operators: their `handleInputRows` prunes priors at the
    *    batch's eviction watermark in the call (`ts >= wm - 1`), and
    *    `transformWithState` handles new data before timers, so an
    *    arrival compares against the same live set either way; expired
    *    state is reclaimed by the next data batch's timers instead.
    *
    * Do NOT wrap an operator whose OUTPUT waits on the watermark (a
    * windowed append aggregation, a timer-emitting `transformWithState`):
    * without the watermark-only batch its last rows stay unemitted until
    * more data arrives. The confs are read at query START, so wrapping
    * `.start()` + the drain is sufficient.
    *
    * The session conf is SHARED mutable state: a query started on the
    * same session while a wrap holds its temporary confs, or restores
    * them mid-start, could run under the wrong provider. Wraps therefore
    * share a JVM-wide read-write lock. A wrap that MUTATES the confs
    * holds the write lock for set → body → restore; a wrap that finds all
    * three already set (production: set in the session builder) runs its
    * body under a READ lock, so such a session keeps concurrent streams,
    * and what it observed cannot be another wrap's temporary. Nesting on
    * one thread is legal: write→write is reentrant, and a wrap nested
    * under a write hold sees the confs set and takes the read lock. The
    * one shape needing a read→write upgrade, which ReentrantReadWriteLock
    * cannot do, is CROSS-SESSION nesting: a pass-through body (session A)
    * wrapping a session B whose confs are not set. It throws instead of
    * self-deadlocking (wrap B first, or set B's confs in its builder). */
  def withRocksDbStateStore[T](s: org.apache.spark.sql.SparkSession)
      (body: => T): T = {
    def held =
      RocksDbConfs.forall { case (k, v) => s.conf.getOption(k).contains(v) }
    val read = rocksLock.readLock()
    read.lock()
    // `finally` runs after `body`: the pass-through runs under the lock
    try { if (held) return body }
    finally read.unlock()
    if (rocksLock.getReadHoldCount > 0)
      throw new IllegalStateException(
        "withRocksDbStateStore: cross-session nesting — this thread is " +
          "inside a pass-through wrap (read lock held) and the inner " +
          "session's state-store confs are not set; acquiring the write " +
          "lock here would self-deadlock (no read->write upgrade). Wrap " +
          "that session first, or set its confs in the builder.")
    val write = rocksLock.writeLock()
    write.lock()
    // re-check under the write lock: the confs may have changed between
    // the read-locked check and acquiring the write lock
    try { if (held) body else withConfs(s, RocksDbConfs)(body) }
    finally write.unlock()
  }

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  private val RocksDbConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    NoDataBatches -> "false")

  private val rocksLock =
    new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Run `body` with `confs` set on the session, restoring each previous
    * value (or its absence) after, also when `body` throws. */
  private def withConfs[T](s: org.apache.spark.sql.SparkSession,
      confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Event-time windowed aggregation with a watermark: events per hour per
    * type (count + value sum). On a stream this is incremental state with
    * late-data tolerance `lateness`; on a batch frame the watermark is a
    * no-op and the result equals the grouped aggregate. */
  def hourlyEventStats(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("value_sum"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Hourly event counts in APPEND mode: each (hour, type) row is emitted
    * exactly once, when the watermark passes the window's end — the
    * incremental way to MAINTAIN the derived hourly series an anomaly
    * monitor reads (complete-mode [[hourlyEventStats]] re-emits the whole
    * table per batch, which a 100 TB monitor cannot). Callers flush the
    * tail with far-future sentinel data batches (the watermark-riding
    * gate policy — see [[withShufflePartitions]]) and filter the sentinel
    * type back out. */
  def hourlyCountsAppend(
      events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("h"), col("event_type"), col("c"))

  /** Gap-based sessionization with the native `session_window` — the
    * Spark-first form of q_events_sessions' lag/cumsum construction: on a
    * stream it is incremental merging session state with watermark expiry;
    * on a batch frame it equals the window-function result. A new session
    * starts when an event arrives STRICTLY more than `gap` after the
    * previous one: windows [t, t+gap] merge when the next start <= the
    * previous end, so an event exactly `gap` later stays in the session —
    * the same boundary as q_events_sessions' `diff > gap` (gated by a
    * planted boundary test in StreamingSpec). Duration is exact integer µs
    * arithmetic truncated to 4 decimals — no float accumulation to flake a
    * cross-engine hash. */
  def sessionize(
      events: DataFrame, gap: String = "30 minutes",
      lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("us", unix_micros(col("ts")))
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), min("us").as("mn"), max("us").as("mx"))
      .select(
        col("user_id"), col("mn").as("sess_start_us"), col("n_events"),
        (expr("(mx - mn) div 100") / 10000.0).as("duration_sec"))

  /** Exactly-once id semantics over a stream: deduplicate on id ALONE —
    * a record re-arriving with the same id but a different event time is
    * still a duplicate. `dropDuplicatesWithinWatermark` keys state on id
    * only and expires it past the watermark (bounded memory); plain
    * `dropDuplicates("id", "ts")` would have let same-id/different-ts
    * records through. */
  def dedupByIdStream(records: DataFrame, lateness: String = "1 hour"): DataFrame =
    records.withWatermark("ts", lateness).dropDuplicatesWithinWatermark("id")

  /** Streaming CONTENT dedup — the exact-dedup stage of the curation
    * pipeline (md5 of the text, first arrival wins) applied at ingest time:
    * a re-crawled page arriving under a new id within the watermark horizon
    * is dropped. State carries only the 16-byte digest per surviving doc
    * (never the text) and expires past the watermark — bounded memory at
    * crawl scale; duplicates farther apart than `lateness` are left for the
    * batch dedup pass (documented hand-off, same semantics split as
    * capPerKey). */
  def dedupByContentStream(
      docs: DataFrame, textCol: String = "text",
      lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_md5", md5(col(textCol).cast("binary")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Streaming NEAR-dup detection — the MinHash-banded sibling of
    * [[dedupByContentStream]] (which only catches byte-identical text):
    * a lightly-edited re-crawl arriving within the watermark horizon is
    * paired against the original it resembles. Emits one row per detected
    * pair (doc_a = the earlier arrival, doc_b = the later, n_agree = how
    * many of the `nPerms` minhash signature entries match; n_agree/nPerms
    * is the Jaccard estimate, so `minAgree` = ceil(threshold · nPerms)).
    *
    * Shape (the batch `dedup_minhash_pairs` cascade made continuous):
    *  - signature + band hashes are computed PER ROW with narrow
    *    higher-order expressions (no shuffle — the batch side's
    *    explode + groupBy re-expressed as transform/array_min over the
    *    shingle array), permutation j of a shingle = md5(j || '|' ||
    *    shingle), identical to the batch pipeline and its DuckDB oracle;
    *  - each doc fans out to its `nPerms / bandRows` band buckets; state
    *    keys on (band_id, band_hash) — the SAME candidate structure that
    *    bounds the batch join, so only near-colliding docs ever meet;
    *  - per bucket the state holds (doc_id, signature, event-time) for
    *    docs inside the watermark horizon — signatures only (256 B/doc at
    *    16 md5 perms, 64 B affine), never text — in the bucket ring
    *    [[BucketRingProcessor]] (its scaladoc has the state layout,
    *    expiry, `occupancyCap` ring and `dropCounter`; wrap query start
    *    in [[withRocksDbStateStore]]);
    *  - a later arrival is compared against every live prior in the
    *    bucket; agreement >= minAgree emits the pair. Duplicate emissions
    *    from a pair sharing several bands are for the caller's
    *    `.distinct()` (batch-side, tiny).
    *
    * Semantics hand-off (documented like capPerKey's): the batch entry
    * verifies candidates with TRUE n-gram Jaccard; the stream uses the
    * signature ESTIMATE (holding texts in state would be unbounded), and
    * pairs farther apart than `lateness` are left to the batch pass.
    * doc_a is always the earlier arrival (ties: smaller id).
    *
    * Input: (ts TIMESTAMP, doc_id LONG, text STRING). Output:
    * (doc_a, doc_b, n_agree LONG).
    *
    * `family` picks the signature kernel: "md5" (nPerms digests per
    * shingle — the original cross-engine parity twin) or "affine" (ONE
    * digest per distinct shingle + affine permutations,
    * [[graft.ops.Minhash.signatureAffineUdf]]'s loop — the cheap kernel a
    * 100 TB stream runs).
    *
    * WIRE/STATE FORMAT (r16, guide §2.3 shuffle-fewer-bytes): the
    * signature crosses the band fan-out shuffle and lives in RocksDB
    * state as ONE flat binary cell of fixed-width entries (16-byte raw
    * md5 digests / 4-byte big-endian affine values —
    * [[graft.ops.Minhash.signatureBinaryUdf]] /
    * [[graft.ops.Minhash.signatureAffineBinaryUdf]]), and the bucket key
    * is the 24-char base64 form from
    * [[graft.ops.Minhash.bucketKeysBinary]]. Both encodings are
    * injective per entry, so slice equality ≡ the r15 string-entry
    * equality: the candidate structure, agreement counts, and every
    * consumer gate's oracle hash are unchanged while the dominant
    * streaming shuffle (the ×(nPerms/bandRows) signature fan-out)
    * shrinks ~2× (md5) / ~4× (affine). */
  def nearDupPairsStream(
      docs: DataFrame, nPerms: Int = 16, bandRows: Int = 4,
      minAgree: Int = 13, lateness: String = "7 days",
      family: String = "md5", occupancyCap: Int = 64,
      dropCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import docs.sparkSession.implicits._
    require(nPerms % bandRows == 0, "bands must tile the signature")
    require(family == "md5" || family == "affine",
      s"unknown signature family: $family") // a silent md5 fallback would
    // let a probe/benchmark misattribute its numbers to the wrong kernel
    // sig[j-1] via the shared graft.ops.Minhash kernels (one tight JVM
    // loop per row — see their scaladoc for why this beats both the HOF
    // and the explode forms; the gates' oracle hash-matches are the parity
    // proof). The batch bandsOf/bandsOfFast ride the same kernels.
    val (sig, entryWidth) = family match {
      case "affine" => (
        graft.ops.Minhash.signatureAffineBinaryUdf(nPerms)(col("text")),
        graft.ops.Minhash.AffineEntryBytes)
      case _ => (
        graft.ops.Minhash.signatureBinaryUdf(nPerms)(col("text")),
        graft.ops.Minhash.Md5EntryBytes)
    }
    val buckets = graft.ops.Minhash
      .bucketKeysBinary(col("sig"), nPerms, bandRows, entryWidth)
    val fanned = docs
      .withColumn("sig", sig)
      .select(col("ts"), col("doc_id"), col("sig"),
        explode(buckets).as("bucket"))
      .withWatermark("ts", lateness)
      .select(col("bucket"), col("ts"), col("doc_id"), col("sig"))
      .as[(String, java.sql.Timestamp, Long, Array[Byte])]
    fanned
      .groupByKey(_._1)
      .transformWithState(
        new SigNearDupProcessor(minAgree, entryWidth, occupancyCap,
          dropCounter),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("doc_a", "doc_b", "n_agree")
  }

  /** Streaming EMBEDDING near-dup — the vector-space sibling of
    * [[nearDupPairsStream]], run against a FROZEN base index: the forest
    * model and per-leaf refinement cuts built on yesterday's corpus (the
    * same previous-day artifacts as `dedup_embedding_incremental`; cuts
    * are leaf-set-bounded, so holding them in the routing closure is the
    * streaming form of the batch side's broadcast join).
    *
    * Shape:
    *  - each arriving vector routes PER ROW to its numTrees
    *    (tree, leaf, sub_key) buckets — frozen-forest traversal + frozen-
    *    median projection bits, no shuffle before the state operator;
    *  - state keys on the bucket and holds (vec_id, embedding,
    *    event-time) for arrivals inside the watermark horizon — dim·4 B
    *    per vector per tree — in the bucket ring [[BucketRingProcessor]]
    *    (its scaladoc has the state layout, expiry, `occupancyCap` ring
    *    and `dropCounter`; wrap query start in [[withRocksDbStateStore]]);
    *  - a later arrival emits (vec_a = earlier, vec_b = later, cos_1e4)
    *    for every live prior with cosine >= `simThreshold`; the 1e4
    *    integer quantization keeps the exec gate hash-exact. Duplicate
    *    emissions from a pair sharing several trees are for the caller's
    *    `.distinct()` (same convention as the text stream).
    *
    * Semantics hand-off: pairs farther apart than `lateness`, and
    * occupancy drift past the frozen cuts, are the batch pass's and the
    * retrain trigger's jobs respectively — this op's contract is the
    * within-horizon continuous surface.
    *
    * Input: (ts TIMESTAMP, vec_id LONG, embedding ARRAY<FLOAT>). Output:
    * (vec_a, vec_b, cos_1e4 LONG). */
  def embNearDupStream(
      vectors: DataFrame, model: graft.index.LshForest.ForestModel,
      cuts: Map[(Int, Int), (Int, Array[Double])],
      simThreshold: Double = 0.999, lateness: String = "7 days",
      occupancyCap: Int = 64,
      dropCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import vectors.sparkSession.implicits._
    val bcModel = graft.index.LshForest.broadcastModel(vectors.sparkSession, model)
    val bcCuts = vectors.sparkSession.sparkContext.broadcast(cuts)
    val routeUdf = udf { (emb: Seq[Float]) =>
      val m = bcModel.value
      val cs = bcCuts.value
      val p = new Array[Double](emb.length)
      var i = 0
      while (i < emb.length) { p(i) = emb(i).toDouble; i += 1 }
      m.trees.indices.map { t =>
        val leaf = graft.index.LshForest.leafFor(m.trees(t), p).leafId
        val sub = cs.get((t, leaf)) match {
          case Some((bits, meds)) if bits > 0 && meds != null =>
            val proj = graft.catalog.DedupQueries.nearDupProjection(emb, t, bits)
            var k = 0; var s = 0
            while (k < bits) {
              if (proj(k) >= meds(k)) s |= 1 << k
              k += 1
            }
            s
          case _ => 0
        }
        s"$t|$leaf|$sub"
      }
    }
    vectors
      .select(col("ts"), col("vec_id"),
        explode(routeUdf(col("embedding"))).as("bucket"), col("embedding"))
      .withWatermark("ts", lateness)
      .select(col("bucket"), col("ts"), col("vec_id"), col("embedding"))
      .as[(String, java.sql.Timestamp, Long, Seq[Float])]
      .groupByKey(_._1)
      .transformWithState(
        new EmbNearDupProcessor(
          math.round(simThreshold * 10000), occupancyCap, dropCounter),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("vec_a", "vec_b", "cos_1e4")
  }

  /** Streaming eval-set decontamination — filter-at-ingest, the
    * continuous form of `text_decontaminate_fuzzy` and the simplest
    * possible streaming shape: ZERO state, zero shuffle, no watermark.
    * The benchmark is eval-set-sized, so ALL its artifacts broadcast:
    * a (band_id, band_key) → bench-ids index for candidate generation
    * and the per-bench distinct shingle sets for exact verification.
    * Each arriving doc computes its affine signature + band keys in the
    * row (the shared [[graft.ops.Minhash]] kernel — same bytes as the
    * batch side), probes the broadcast band index, and verifies TRUE
    * Jaccard against only the colliding bench docs — per-row cost is
    * O(shingles + collisions), independent of stream length, so there
    * is nothing to expire and nothing that grows. Emits one row per
    * (doc, bench) match at `threshold`; callers aggregate per doc.
    *
    * Input: (doc_id LONG, text STRING). Output:
    * (doc_id, bench_id, jaccard DOUBLE — exact integer ratio, unrounded). */
  def decontaminateStream(
      docs: DataFrame, bench: Seq[(Long, String)],
      nPerms: Int = 16, bandRows: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    import docs.sparkSession.implicits._
    require(nPerms % bandRows == 0, "bands must tile the signature")
    val as = graft.ops.Minhash.affineCoeffs(nPerms).map(_._1).toArray
    val bs = graft.ops.Minhash.affineCoeffs(nPerms).map(_._2).toArray
    val benchShingles: Map[Long, Set[String]] =
      bench.map { case (id, t) => id -> graft.ops.Minhash.shingleSet(t) }.toMap
    val bandToBench: Map[(Int, String), Array[Long]] = bench
      .flatMap { case (id, t) =>
        graft.ops.Minhash
          .bandKeysAffineScala(
            graft.ops.Minhash.signatureAffine(t, nPerms, as, bs), bandRows)
          .zipWithIndex.map { case (k, b) => ((b, k), id) }
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray.sorted }
    val sc = docs.sparkSession.sparkContext
    val bcShingles = sc.broadcast(benchShingles)
    val bcBands = sc.broadcast(bandToBench)
    docs.as[(Long, String)].flatMap { case (id, text) =>
      val keys = graft.ops.Minhash.bandKeysAffineScala(
        graft.ops.Minhash.signatureAffine(text, nPerms, as, bs), bandRows)
      val cands = scala.collection.mutable.LinkedHashSet.empty[Long]
      var b = 0
      while (b < keys.length) {
        bcBands.value.get((b, keys(b))).foreach(_.foreach(cands += _))
        b += 1
      }
      if (cands.isEmpty) Iterator.empty
      else {
        val sh = graft.ops.Minhash.shingleSet(text)
        cands.iterator.flatMap { bid =>
          val bsh = bcShingles.value(bid)
          val inter = sh.count(bsh.contains)
          val j = inter.toDouble / (sh.size + bsh.size - inter)
          if (j >= threshold) Some((id, bid, j)) else None
        }
      }
    }.toDF("doc_id", "bench_id", "jaccard")
  }

  /** DSIR importance scoring at ingest — the filter-at-the-firehose
    * deployment of [[graft.ops.QualityModels.dsirScore]]: the ≤ dim-row
    * weight table is trained OFFLINE on a (raw, target) pair, frozen,
    * and shipped into the stream; each arriving doc scores in one
    * zero-shuffle per-row pass via
    * [[graft.ops.QualityModels.dsirScoreKernel]] (tokenize → md5 fold →
    * weight lookup → integer average — O(doc length), no state, nothing
    * grows). Stateless like [[decontaminateStream]]; the stream_dsir_exec
    * gate proves the kernel lands byte-for-byte on the declarative batch
    * plan's DuckDB-checked scores.
    *
    * Input: (doc_id LONG, text STRING). Output:
    * (doc_id, n_feat LONG, dsir_score LONG). */
  def dsirStream(
      docs: DataFrame, weights: Map[Long, Long],
      dim: Long = 4096L): DataFrame = {
    val k = graft.ops.QualityModels.dsirScoreKernel(weights, dim)
    docs.select(col("doc_id"), k(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("n_feat"),
        col("s._2").as("dsir_score"))
  }

  /** Per-key cap sampling over a stream: pass through at most `cap` records
    * per key — "keep at most N documents per domain/user" during training
    * data ingest. This is the one streaming op here that genuinely needs
    * custom state: dedup ops key on full identity, windowed aggs can't emit
    * individual surviving rows, and rank-based sampling (row_number <= N)
    * doesn't exist on streams — so it runs on
    * `flatMapGroupsWithState(Append)` with one counter per key and
    * event-time timeout: once the watermark passes a key's last activity
    * plus `lateness`, its counter expires (bounded state; a key that
    * reappears later starts a fresh budget — documented semantics of the
    * expiry, not a bug).
    *
    * Input must have (key STRING, ts TIMESTAMP, id STRING); arrival order
    * within a micro-batch decides which records win the budget. */
  def capPerKey(records: DataFrame, cap: Int, lateness: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import records.sparkSession.implicits._
    val withWm = records.withWatermark("ts", lateness)
      .select(col("key"), col("ts"), col("id"))
      .as[(String, java.sql.Timestamp, String)]
    withWm
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, java.sql.Timestamp, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(String, java.sql.Timestamp, String)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.getOrElse(0L)
            val kept = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
              .take(math.max(0, cap - seen.toInt))
            state.update(seen + kept.length)
            state.setTimeoutTimestamp(
              kept.lastOption.map(_._2.getTime).getOrElse(
                math.max(state.getCurrentWatermarkMs(), 0L)) + 1L,
              lateness)
            kept.iterator
          }
      }
      .toDF("key", "ts", "id")
  }

  /** Streaming basket-pair maintenance — the continuous form of
    * `q_basket_lift`'s pair counting: items arrive as (order, part) rows
    * in any batch split, per-order state holds the distinct parts seen so
    * far, and each genuinely new part emits its pairs against the
    * buffered basket exactly once (set semantics match the batch
    * DISTINCT; within a batch new parts apply in sorted order, so
    * emission is deterministic under any chunking). Downstream the pair
    * stream rolls up additively — counts converge to the batch self-join's
    * n12 without ever re-reading history.
    *
    * State is one sorted part array per OPEN order (baskets are small —
    * bounded by basket size, not corpus size) and RETIRES on event time:
    * once the watermark passes an order's last item plus `lateness`, its
    * basket state is removed (the capPerKey/asofStream timeout idiom), so
    * state tracks the open-order horizon, not the stream's whole order
    * history — at 100 TB an open-ended order keyspace under NoTimeout is
    * unbounded state. Retirement semantics: a part arriving for a RETIRED
    * order starts a fresh basket — it does NOT re-emit pairs against the
    * forgotten items (StreamingSpec gates this), matching the business
    * meaning of the TTL ("the order closed; a late refill is a new
    * transaction"). Rows later than `lateness` behind the watermark are
    * dropped by the engine's late-row filter before they reach state —
    * the standard watermark contract. */
  def basketPairsStream(
      items: DataFrame, lateness: String = "30 days"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import items.sparkSession.implicits._
    items.select(col("order_id").cast("long"), col("part_id").cast("long"),
        col("ts"))
      .withWatermark("ts", lateness)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toSeq
            val seen = scala.collection.mutable.TreeSet
              .from(state.getOption.getOrElse(Array.empty[Long]))
            val out = Seq.newBuilder[(Long, Long)]
            rs.map(_._2).distinct.sorted.foreach { p =>
              if (!seen.contains(p)) {
                seen.foreach(q => out += (if (p < q) (p, q) else (q, p)))
                seen += p
              }
            }
            state.update(seen.toArray)
            // retire `lateness` past the order's last activity; the max()
            // keeps the timeout ahead of the watermark when this order's
            // items are much older than the stream's frontier (the API
            // rejects a timeout at-or-below the current watermark)
            val lastMs = rs.map(_._3.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastMs, state.getCurrentWatermarkMs()) + 1L, lateness)
            out.result().iterator
          }
      }
      .toDF("p1", "p2")
  }

  /** Streaming as-of join — the continuous form of [[graft.ops.AsofJoin]]
    * with IDENTICAL semantics (latest right row at-or-before each left row
    * per key, inclusive ties): a left row emits exactly once, when the
    * watermark passes its event time — only then is its right-side history
    * provably complete, because any still-unseen right row must carry a
    * later timestamp or be late beyond `lateness`. Until then it buffers
    * in per-key state.
    *
    * State is bounded by the watermark horizon: pending lefts not yet
    * ripe, right rows the watermark hasn't passed, and ONE right row
    * at-or-below it (the only past row a future left can still match —
    * everything older is provably shadowed and pruned each batch). An
    * event-time timeout re-fires the key when the watermark passes its
    * earliest pending left, so emission doesn't wait for new traffic on
    * that key; idle keys with nothing pending expire `gcMs` past the
    * watermark.
    *
    * Input columns: (key LONG, ts TIMESTAMP, us LONG event-time micros,
    * side INT — 0 right / 1 left, id LONG); `us` must be the micros of
    * `ts` (ts drives the watermark, us keeps sub-millisecond order).
    * Right rows must be unique per (key, us), as in the batch operator.
    * Output: (key, us, id, match_id, match_us) with null match columns
    * when no right row precedes. */
  def asofStream(
      records: DataFrame, lateness: String = "1 hour",
      gcMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import records.sparkSession.implicits._
    // state: (rights, lefts), both as (us, id)
    records.withWatermark("ts", lateness)
      .select(col("key"), col("ts"), col("us"), col("side"), col("id"))
      .as[(Long, java.sql.Timestamp, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (List[(Long, Long)], List[(Long, Long)]),
        (Long, Long, Long, Option[Long], Option[Long])](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Int, Long)],
            state: GroupState[(List[(Long, Long)], List[(Long, Long)])]) =>
          val wmMs = math.max(state.getCurrentWatermarkMs(), 0L)
          val wmUs = wmMs * 1000L
          var (rights, lefts) = state.getOption
            .getOrElse((List.empty[(Long, Long)], List.empty[(Long, Long)]))
          rows.foreach { case (_, _, us, side, id) =>
            if (side == 0) rights = (us, id) :: rights
            else lefts = (us, id) :: lefts
          }
          // ripe: strictly below the watermark floor in micros — any right
          // row still in flight has us >= wmUs, so these lefts are final
          val (ripe, still) = lefts.partition(_._1 < wmUs)
          val out = ripe.sorted.map { case (us, id) =>
            val prior = rights.filter(_._1 <= us)
            val m = if (prior.isEmpty) None else Some(prior.max)
            (key, us, id, m.map(_._2), m.map(_._1))
          }
          // a future left has us >= wmUs: it can match rights at >= wmUs
          // or the single latest right below — drop the shadowed rest
          val (future, past) = rights.partition(_._1 >= wmUs)
          val keep = future ++ past.sorted.lastOption.toList
          if (still.isEmpty && keep.isEmpty) state.remove()
          else {
            state.update((keep, still))
            val target = still.map(_._1 / 1000L).minOption
              .getOrElse(wmMs + gcMs)
            state.setTimeoutTimestamp(math.max(target, wmMs) + 1L)
          }
          out.iterator
      }
      .toDF("key", "us", "id", "match_id", "match_us")
  }

  /** Streaming range (point-in-window) join — the continuous form of
    * [[graft.ops.RangeJoin]], expressed as Spark's NATIVE stream-stream
    * join with a time-interval condition: each point row joins every
    * window opened by the same key at-or-before it within `window`
    * (`open_ts <= ts <= open_ts + window`, inclusive both ends, matching
    * the batch operator's BETWEEN). The two explicit watermarks plus the
    * bounded interval in the join condition are exactly what Structured
    * Streaming needs to expire join state: a window's state is dropped
    * once the watermark passes `open_ts + window + lateness`, so state is
    * proportional to the open-window horizon, not the stream's history.
    *
    * `points` needs (user_id, ts TIMESTAMP, …); `opens` needs
    * (o_user_id, open_ts TIMESTAMP, …) with all other names disjoint. */
  def rangeJoinStream(
      points: DataFrame, opens: DataFrame,
      window: String = "1 hour", lateness: String = "1 hour"): DataFrame =
    points.withWatermark("ts", lateness)
      .join(
        opens.withWatermark("open_ts", lateness),
        expr(s"""user_id = o_user_id AND
                 ts >= open_ts AND
                 ts <= open_ts + INTERVAL $window"""))

  /** Stream-static enrichment: join a stream against a broadcast
    * dimension table — the lookup-join every event pipeline runs (event →
    * user profile, doc → source metadata). Stateless on the stream side:
    * no watermark, no join state, each micro-batch hash-probes the
    * broadcast dim. On a batch frame it is the identical broadcast join,
    * so the same function is oracle-checked via `q_events_enriched` and
    * stream/batch parity is gated in StreamingSpec. */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key))

  /** Streaming top-k: a running nearest-neighbor leaderboard per query
    * over an unbounded scored stream — the continuous form of the batch
    * `TopKAgg` rerank (monitor "the k closest corpus vectors seen so far"
    * while a corpus streams in). State per query is the SAME bounded
    * sorted buffer the batch aggregate keeps (≤ k (dist, id) pairs, ties
    * on id), updated via `mapGroupsWithState` in Update mode: each
    * micro-batch emits a query's refreshed leaderboard only when that
    * query saw traffic. No timeout — a leaderboard outlives any horizon
    * by design (k · |queries| rows of state, not stream-sized).
    *
    * Why NoTimeout is SAFE here (and was not in baskets): the keyspace is
    * the REGISTERED monitoring queries — an operator-curated set, bounded
    * by who is watching, not by stream traffic — and each key's state is
    * a hard ≤ k buffer. Retiring an idle query would also be wrong: its
    * leaderboard must still reflect all history when traffic resumes.
    * Per-ORDER keys (baskets) arrive unboundedly and die after checkout —
    * THAT shape needs the event-time TTL basketPairsStream now has.
    *
    * Input: (query_id LONG, vec_id LONG, dist DOUBLE) — pre-scored, so
    * stream and batch share arithmetic bit-for-bit; parity with
    * `SimSearch.takeTopK` over the full history is gated in
    * StreamingSpec. Output: (query_id, vec_id, dist, rk) — the current
    * top-k, rank 1 = nearest. */
  def topKStream(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import scored.sparkSession.implicits._
    scored
      .select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("dist").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[(Double, Long)], (Long, Array[(Double, Long)])](
        GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Double)],
            state: org.apache.spark.sql.streaming.GroupState[Array[(Double, Long)]]) =>
          val buf = collection.mutable.ArrayBuffer.from(
            state.getOption.getOrElse(Array.empty[(Double, Long)]))
          rows.foreach { case (_, id, d) =>
            val a = (d, id)
            // At-least-once sources can re-deliver a (query, vec, dist)
            // row (and corpus re-scores repeat them by design): an exact
            // (dist, id) pair already in the buffer must be a no-op, or
            // one vector occupies several ranks and evicts genuine
            // neighbors. The buffer is sorted — membership falls out of
            // the same scan that finds the insertion point.
            if (buf.length < k || Ordering[(Double, Long)].lt(a, buf.last)) {
              val at = buf.indexWhere(Ordering[(Double, Long)].lteq(a, _))
              if (at < 0) buf.append(a)
              else if (buf(at) != a) buf.insert(at, a)
              if (buf.length > k) buf.remove(buf.length - 1)
            }
          }
          val arr = buf.toArray
          state.update(arr)
          (qid, arr)
      }
      .flatMap { case (qid, arr) =>
        arr.iterator.zipWithIndex.map { case ((d, id), i) =>
          (qid, id, d, (i + 1).toLong)
        }
      }
      .toDF("query_id", "vec_id", "dist", "rk")
  }

  /** Streaming vector ingest into a [[ZebraEngine]]: every micro-batch is
    * one `insert_records` call — the reference's incremental `add` (I7)
    * driven by a stream. When the engine has an index, each batch routes
    * through the existing broadcast trees (see ZebraEngine.insertRecords);
    * periodic `refreshIndex()` compacts overflowing leaves (I8's split). */
  def ingestVectors(
      stream: DataFrame, engine: ZebraEngine,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) engine.insertRecords(batch)
      }
      .start()

  /** Streaming SCD2 historization ([[graft.ops.Incremental.scd2]]'s
    * semantics on an upsert stream): per-key state holds the OPEN version
    * (ordinal, valid_from, payload); a row whose payload differs
    * (null-safe) closes it — the closed interval is APPENDED — and opens
    * the next; a no-op payload is absorbed (the batch operator's
    * consecutive-dedup). Append mode can never retract, so the open
    * version lives only in state: the stream's output is exactly the
    * batch history's is_current = false rows, which StreamingSpec gates.
    * Delivery contract: batches must arrive in non-decreasing seq order
    * per key (the CDC-log contract; out-of-order seqs would need an
    * event-time buffer like asofStream's). Payload shape specialized to
    * (st STRING, price DOUBLE) like the other stateful ops.
    *
    * Why NoTimeout is SAFE here (and was not in baskets): state is O(1)
    * per key — the single open version — and the keyspace is the
    * DIMENSION's (suppliers/customers/SKUs: the entity table SCD2
    * historizes, bounded by the business, not by traffic). Retiring a
    * key would also be WRONG: its open version must close whenever the
    * next change arrives, years later included. Contrast basketPairsStream
    * pre-r14: per-ORDER keys arrive forever and each is dead after
    * checkout — traffic-bounded keys need the TTL, dimension-bounded
    * keys need the open row. */
  def scd2Stream(log: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import log.sparkSession.implicits._
    log.select(col("k"), col("seq"), col("st"), col("price"))
      .as[(Long, Int, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Int, String, Double),
        (Long, Long, Int, Int, String, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Int, String, Double)],
            state: GroupState[(Long, Int, String, Double)]) =>
          var cur = state.getOption // (ver, valid_from, st, price)
          val out = scala.collection.mutable.ListBuffer
            .empty[(Long, Long, Int, Int, String, Double)]
          rows.toSeq.sortBy(_._2).foreach { case (_, seq, st, price) =>
            cur match {
              case None => cur = Some((1L, seq, st, price))
              case Some((ver, from, pst, pprice))
                  if pst != st || pprice != price =>
                out += ((key, ver, from, seq, pst, pprice))
                cur = Some((ver + 1, seq, st, price))
              case _ => // unchanged payload: absorbed
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
      .toDF("k", "ver", "valid_from", "valid_to", "st", "price")
  }

  /** The current maintained rollup at `storePath` (latest committed
    * version), if any batch has ever committed. */
  def currentRollup(
      s: org.apache.spark.sql.SparkSession,
      storePath: String): Option[DataFrame] =
    EpochStore.latest(s, storePath)

  /** Apply one micro-batch of delta rows to the rollup stored at
    * `storePath` (the [[graft.ops.Incremental.refreshRollup]] algebra) as
    * the next version of a replace [[EpochStore]]: a crash mid-write
    * leaves an invisible partial, a replayed batch id no-ops, and the
    * previous version stays readable until the new one commits. Exposed
    * separately from [[maintainRollup]] so the replay and crash paths are
    * unit-testable. */
  def applyRollupBatch(
      batch: DataFrame, batchId: Long, storePath: String,
      keys: Seq[String], sumCols: Seq[String]): Unit =
    EpochStore.replace(batch.sparkSession, storePath, batchId) {
      case Some(prev) =>
        graft.ops.Incremental.refreshRollup(prev, batch, keys, sumCols)
      case None => graft.ops.Incremental.partials(batch, keys, sumCols)
    }

  /** Streaming materialized-view maintenance: each micro-batch's rows are
    * absorbed into the parquet-stored rollup via the partial-aggregate
    * merge — the base data is never re-read, so the per-epoch cost tracks
    * the DELTA size (the incremental-view-maintenance shape; contrast a
    * complete-mode streaming aggregate, whose state must hold every group
    * in memory and whose sink rewrites every group every epoch). */
  def maintainRollup(
      stream: DataFrame, storePath: String, checkpoint: String,
      keys: Seq[String], sumCols: Seq[String]): StreamingQuery =
    EpochStore.maintain(stream, checkpoint) { (batch, id) =>
      applyRollupBatch(batch, id, storePath, keys, sumCols)
    }

  /** Streaming crawl front-end, stages 0–1 (VERDICT r12 ask 4): URL
    * canonical FIRST-WINS dedup ([[graft.ops.Url.canonicalize]] — the
    * same per-row kernel as the batch `dedup_url_canonical`, keyed state
    * in the `dropDuplicatesWithinWatermark` shape so a refetch of the
    * same page under scheme/host/port/tracking-param noise is dropped
    * before its markup is ever parsed), then per-row main-content
    * extraction ([[graft.ops.Html.blocks]] — map-side, markup never
    * shuffles or enters state; state holds canonical urls only, expiring
    * past the watermark). Emits (doc_id, canon_url, n_blocks, kept) —
    * the per-page parse result the maintenance sink absorbs.
    * Duplicates farther apart than `lateness` hand off to the batch
    * `dedup_url_canonical` pass (the [[dedupByContentStream]] policy). */
  def crawlIngestStream(
      pages: DataFrame, lateness: String = "7 days"): DataFrame = {
    val canonUdf = udf((u: String) => graft.ops.Url.canonicalize(u))
    val keptUdf = udf((h: String) => graft.ops.Html.parseStats(h))
    pages
      .withColumn("canon_url", canonUdf(col("url")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("canon_url")
      .select(col("doc_id"), col("canon_url"), keptUdf(col("page")).as("r"))
      .select(col("doc_id"), col("canon_url"),
        col("r._1").cast("long").as("n_blocks"), col("r._2").as("kept"))
  }

  /** The chunk-df merge algebra: per-epoch deltas sum per chunk. */
  private def sumChunkDf(df: DataFrame): DataFrame =
    df.groupBy("chunk").agg(sum(col("n")).as("n"))

  /** The crawl cascade's append stores: parses merge as-is, chunk-df
    * deltas merge by their sum (a compacted store is pre-aggregated). */
  private def crawlStores(docStore: String, dfStore: String) =
    Seq(EpochStore.Append(docStore), EpochStore.Append(dfStore, sumChunkDf))

  /** Apply one micro-batch of parsed pages to the two crawl stores, both
    * append [[EpochStore]]s:
    *
    *  - `docStore`: each page's parse result;
    *  - `dfStore`: the batch's chunk document-frequency DELTA
    *    (`chunk` → n within this batch). Deliberately NOT the
    *    [[applyRollupBatch]] versioned-rollup shape: the chunk-df
    *    rollup is DISTINCT-CHUNKS-sized — corpus-scale, unlike a
    *    normal aggregate's groups — so rewriting the merged rollup
    *    every epoch would cost O(accumulated corpus) per batch at
    *    100 TB. Appending the delta keeps per-epoch maintenance
    *    O(|batch|); [[currentChunkDf]] re-aggregates at serving, where
    *    a corpus-sized read is inherent anyway.
    *
    * The per-batch `distinct()` makes n a true document frequency: a
    * chunk repeated within one page counts once, and a page's chunks
    * land in exactly one epoch (the row exists once past url dedup), so
    * summing per-batch counts across epochs equals the batch cascade's
    * `count_distinct(doc_id)`. */
  def applyCrawlBatch(
      batch: DataFrame, batchId: Long, docStore: String,
      dfStore: String): Unit = {
    val s = batch.sparkSession
    EpochStore.append(s, docStore, batchId)(batch)
    EpochStore.append(s, dfStore, batchId)(batch
      .select(col("doc_id"), explode(col("kept")).as("chunk"))
      .distinct()
      .groupBy("chunk").agg(count(lit(1)).as("n")))
  }

  /** Compact BOTH crawl stores ([[EpochStore.compact]]). The chunk-df
    * store merges with its additive rollup, so the serving re-aggregate
    * touches one distinct-chunks-sized partition set. Serving results are
    * unchanged by construction (sum is associative). Returns true when
    * either store compacted. */
  def compactCrawlStores(
      s: org.apache.spark.sql.SparkSession, docStore: String,
      dfStore: String): Boolean =
    crawlStores(docStore, dfStore).map(EpochStore.compact(s, _)).contains(true)

  /** The maintained chunk document-frequency view: per-epoch deltas
    * summed across every live epoch — (chunk, n) with n the number of
    * distinct pages carrying the chunk. */
  def currentChunkDf(
      s: org.apache.spark.sql.SparkSession,
      dfStore: String): Option[DataFrame] =
    EpochStore.read(s, dfStore).map(sumChunkDf)

  /** Streaming maintenance for the crawl front-end: each micro-batch of
    * [[crawlIngestStream]] output lands in the doc store and folds into
    * the chunk-df rollup. The serving layer reads both
    * ([[currentCrawlDocs]] + [[currentChunkDf]]) and finishes the cascade
    * (hot-chunk anti-join, reassembly, verdict) — emitting final docs
    * from inside the stream is impossible in append mode because a chunk
    * becoming hot retroactively changes pages emitted epochs ago (the
    * same argument as [[maintainComponents]]). */
  def maintainCrawl(
      ingested: DataFrame, docStore: String, dfStore: String,
      checkpoint: String): StreamingQuery =
    EpochStore.maintain(ingested, checkpoint, crawlStores(docStore, dfStore),
        persist = true) { (batch, id) =>
      applyCrawlBatch(batch, id, docStore, dfStore)
    }

  /** Every committed page parse in the doc store (union of live epochs),
    * if any batch has committed. */
  def currentCrawlDocs(
      s: org.apache.spark.sql.SparkSession,
      docStore: String): Option[DataFrame] =
    EpochStore.read(s, docStore)

  /** The crawl → near-dup composition's append stores. The doc store's
    * merge CLUSTERS by doc_id (range partition + in-file sort): the verify
    * stage fetches pair ENDPOINTS from this store every batch, and against
    * a clustered layout a pushed doc_id predicate prunes at row-group
    * granularity instead of scanning the corpus. Bands have no merge
    * algebra beyond union. */
  private def crawlDedupStores(docStore: String, bandStore: String) = Seq(
    EpochStore.Append(docStore,
      _.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")),
    EpochStore.Append(bandStore))

  /** One micro-batch of the crawl → near-dup HANDOFF (VERDICT r13 ask 6 —
    * the dailyloop probe shape as one continuously-maintained
    * composition): the epoch's parsed pages land in the doc store, their
    * reassembled text is banded into an append-only BAND-store epoch
    * (production's persisted band table, carried forward between
    * increments), the delta's bands bucket-join the full band table for
    * candidates, candidates verify by true Jaccard against the doc
    * store's texts (semi-join-pruned to pair endpoints), and the verified
    * delta pairs fold into the component store via
    * [[applyComponentsBatch]]'s incremental update. Per-epoch cost is
    * O(|batch| banding + delta-involving candidates + touched
    * components) — the base corpus is never re-banded and the pair graph
    * never recomputed. The union over epochs of delta-involving pairs is
    * exactly the full pair set, so the final labels equal a full
    * recompute (the `stream_crawl_dedup_exec` gate's closure-oracle
    * claim).
    *
    * `bandsOf` maps (doc_id, text) to banded signatures and `pairsDelta`
    * is the (allDocs, allBands, deltaBands) → verified-pairs stage — both
    * injected by the caller (the catalog owns the MinHash family
    * constants; the store choreography lives here). Idempotent per store:
    * a replayed epoch no-ops on whichever writes already committed. */
  def applyCrawlDedupBatch(
      batch: DataFrame, batchId: Long, docStore: String,
      bandStore: String, labelStore: String,
      bandsOf: DataFrame => DataFrame,
      pairsDelta: (DataFrame, DataFrame, DataFrame) => DataFrame): Unit = {
    val s = batch.sparkSession
    EpochStore.append(s, docStore, batchId)(batch)
    def textsOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), array_join(col("kept"), " ").as("text"))
      .filter(length(col("text")) > 0) // no kept chunks -> nothing to dedup
    EpochStore.append(s, bandStore, batchId)(bandsOf(textsOf(batch)))
    if (EpochStore.absorbed(s, labelStore, batchId)) return
    val deltaBands = EpochStore.epoch(s, bandStore, batchId)
    val allBands = EpochStore.read(s, bandStore).get
    val allDocs = textsOf(currentCrawlDocs(s, docStore).get)
    val pairs = pairsDelta(allDocs, allBands, deltaBands)
    applyComponentsBatch(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      batchId, labelStore)
  }

  /** Compact the crawl→near-dup composition's APPEND stores — the band
    * store and the composition's doc store. Without this, every
    * delta-banding pass ([[applyCrawlDedupBatch]] reads the full band
    * table each batch) pays an O(epochs) listing. Labels are untouched by
    * construction: compaction changes the band table's file layout, not
    * its rows, and a replayed ancient batch id still no-ops after band-dir
    * GC. Returns true when either store compacted. */
  def compactCrawlDedupStores(
      s: org.apache.spark.sql.SparkSession, docStore: String,
      bandStore: String): Boolean =
    crawlDedupStores(docStore, bandStore).map(EpochStore.compact(s, _))
      .contains(true)

  /** Streaming maintenance for the crawl → near-dup composition: each
    * micro-batch of [[crawlIngestStream]] output (url-deduped, parsed —
    * so a refetch can never band against its original) flows through
    * [[applyCrawlDedupBatch]]. Serving reads
    * [[currentComponents]](labelStore) for the maintained duplicate
    * clusters and [[currentCrawlDocs]](docStore) for the corpus. */
  def maintainCrawlDedup(
      ingested: DataFrame, docStore: String, bandStore: String,
      labelStore: String, checkpoint: String,
      bandsOf: DataFrame => DataFrame,
      pairsDelta: (DataFrame, DataFrame, DataFrame) => DataFrame)
      : StreamingQuery =
    EpochStore.maintain(ingested, checkpoint,
        crawlDedupStores(docStore, bandStore), persist = true) { (batch, id) =>
      applyCrawlDedupBatch(batch, id, docStore, bandStore, labelStore,
        bandsOf, pairsDelta)
    }

  /** The current maintained component labeling at `storePath` (latest
    * committed version), if any batch has ever committed. */
  def currentComponents(
      s: org.apache.spark.sql.SparkSession,
      storePath: String): Option[DataFrame] =
    EpochStore.latest(s, storePath)

  /** Apply one micro-batch of near-dup pair EDGES to the versioned
    * component store — [[applyRollupBatch]]'s replace [[EpochStore]] with
    * [[graft.ops.ConnectedComponents.updateIncremental]] as the merge
    * algebra: labels(v′) = update(labels(v), batch edges), cost
    * O(|batch| + touched components) + one labels scan — the base pair
    * graph is NEVER re-read. The first committed batch starts from the
    * empty labeling (update against ∅ ≡ a fresh components run on the
    * batch). */
  def applyComponentsBatch(
      batch: DataFrame, batchId: Long, storePath: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val edges = batch.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    EpochStore.replace(s, storePath, batchId) { prev =>
      graft.ops.ConnectedComponents.updateIncremental(
        prev.getOrElse(Seq.empty[(Long, Long)].toDF("node", "component")),
        edges)
    }
  }

  /** Streaming duplicate-CLUSTER maintenance — the continuous form of the
    * daily-crawl loop `dedup_cluster_incremental` gates in batch: a
    * stream of verified near-dup pair edges (src, dst) folds into the
    * persisted component labeling epoch by epoch. Emitting components
    * from inside a stateful streaming op is impossible in append mode
    * (merges retroactively relabel nodes emitted epochs ago), so like
    * [[maintainRollup]] this maintains a STORE the serving layer reads —
    * the incremental-view-maintenance shape, with per-epoch cost tracking
    * the delta, never the accumulated graph. */
  def maintainComponents(
      stream: DataFrame, storePath: String, checkpoint: String): StreamingQuery =
    EpochStore.maintain(stream, checkpoint) { (batch, id) =>
      applyComponentsBatch(batch, id, storePath)
    }

  /** Streaming multi-touch ATTRIBUTION — the continuous form of
    * `q_events_attribution` ([[graft.ops.Funnel]]'s sibling state
    * machine): per user, buffer view/click touches and track the MIN
    * purchase time (the batch semantics' anchor); once the watermark
    * passes the anchor no earlier purchase or qualifying touch can
    * arrive, so the credit split is final and emits — first/last/linear
    * over the (us, event_id)-ranked touches inside the lookback window
    * before the anchor, 10000 basis points each model, linear remainder
    * to the earliest ranks (the batch operator's exact rule; the gate
    * lands on the batch entry's oracle hash).
    *
    * State per user, all bounded: anchor scalar + buffered touches
    * pruned to [max-possible-anchor − lookback, anchor) — while no
    * purchase is seen, any FUTURE purchase has event time ≥ watermark,
    * so touches below wm − lookback can never qualify and drop; once
    * anchored, touches ≥ anchor can never qualify (they must precede the
    * final anchor, which only decreases). A tombstone suppresses
    * re-emission, GC'd past the watermark; non-event types (sentinels)
    * fall through as watermark drivers, leaving no state — the
    * funnelStream lessons applied.
    *
    * Input: (ts TIMESTAMP, user_id LONG, event_id LONG, event_type
    * STRING). Output: one row per (touch, model) —
    * (user_id, event_type, model, bp). */
  def attributionStream(
      events: DataFrame, lookbackUs: Long,
      lateness: String = "1 hour", gcMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Option[Long], List[(Long, Long, String)], Boolean),
        (Long, String, String, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Long, Long, String)],
            state: GroupState[(Option[Long], List[(Long, Long, String)], Boolean)]) =>
          val wmMs = math.max(state.getCurrentWatermarkMs(), 0L)
          val wmUs = wmMs * 1000L
          var (anchor, buf, emitted) = state.getOption
            .getOrElse((Option.empty[Long],
              List.empty[(Long, Long, String)], false))
          if (!emitted) rows.foreach { case (_, _, us, eid, et) =>
            et match {
              case "purchase" => anchor = Some(anchor.fold(us)(math.min(_, us)))
              case "view" | "click" => buf = (us, eid, et) :: buf
              case _ => // watermark drivers only
            }
          }
          buf = anchor match {
            case Some(a) => buf.filter(_._1 < a)
            case None => buf.filter(_._1 >= wmUs - lookbackUs)
          }
          val closed = anchor.exists(a => wmUs >= a)
          val out =
            if (!emitted && closed) {
              val a = anchor.get
              val touches = buf
                .filter(t => t._1 < a && t._1 >= a - lookbackUs)
                .sortBy(t => (t._1, t._2))
              emitted = true
              buf = Nil
              val n = touches.size
              touches.iterator.zipWithIndex.flatMap { case ((_, _, et), i) =>
                val r = i + 1
                Iterator(
                  (user, et, "first_touch", if (r == 1) 10000L else 0L),
                  (user, et, "last_touch", if (r == n) 10000L else 0L),
                  (user, et, "linear",
                    10000L / n + (if (r <= 10000 % n) 1L else 0L)))
              }
            } else Iterator.empty
          val wasTombstone = state.getOption.exists(_._3)
          if (emitted) {
            if (wasTombstone && state.hasTimedOut) state.remove() // GC
            else {
              state.update((anchor, Nil, true))
              state.setTimeoutTimestamp(wmMs + gcMs)
            }
          } else if (anchor.isEmpty && buf.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update((anchor, buf, false))
            // wake when the watermark can pass the anchor (ceiling ms so a
            // non-ms-aligned anchor can't fire a hair early — the
            // funnelStream timeout lesson), else at the GC horizon
            val target = anchor.map(a => (a + 999L) / 1000L)
              .getOrElse(wmMs + gcMs)
            state.setTimeoutTimestamp(math.max(target, wmMs) + 1L)
          }
          out
      }
      .toDF("user_id", "event_type", "model", "bp")
  }

  /** Streaming window funnel — the continuous form of
    * [[graft.ops.Funnel]]: per-user funnel state finalized by the
    * WATERMARK (a funnel is undecidable until no event inside its window
    * can still arrive, so emission waits for watermark > anchor + W and
    * then replays the batch operator's greedy chain over the buffered
    * events — stream and batch share the decision procedure, which is
    * what the parity gates check).
    *
    * State per user, all window-bounded:
    *   - `anchor`: min step-1 event time seen (a scalar — later step-1s
    *     only lower it);
    *   - buffered (us, stepIdx) for steps ≥ 2, pruned to us ≤ anchor + W
    *     (a later anchor decrease only shrinks the window, so nothing
    *     pruned could re-qualify) and, while no anchor exists, to
    *     us ≥ watermark (a qualifying step-1 would need event time < us,
    *     and the watermark guarantees none will be accepted);
    *   - after emission a tombstone suppresses re-opening (batch
    *     semantics anchor at the GLOBAL first step-1; a post-window
    *     step-1 would start a second funnel in a per-window variant,
    *     documented out of scope), GC'd `gcMs` past the watermark.
    *
    * Input: (ts TIMESTAMP, user_id LONG, event_type STRING). Non-step
    * types are NOT pre-filtered: a filter between the watermark and the
    * state op gets pushed below the EventTimeWatermark node, and a
    * far-future sentinel of a non-step type would then never advance the
    * watermark (found by the parity spec's small corpus — the fixture
    * masked it because every anchor closes before its max event time).
    * Instead the state function ignores unknown types, so any event
    * advances the watermark and a sentinel leaves no state behind.
    * Output: (user_id, reached, anchor_us) — reached = deepest step index
    * (1-based) completed inside the window, one row per user that ever
    * saw a step 1. */
  def funnelStream(
      events: DataFrame, steps: Seq[String], windowUs: Long,
      lateness: String = "1 hour", gcMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    require(steps.size >= 2, "a funnel needs at least two steps")
    // every 0-based index a type serves — a funnel may legitimately
    // repeat a step type ("view, click, click"), and a last-wins map here
    // silently emptied the sink for such funnels (anchor never matched)
    val idxsOf: Map[String, Seq[Int]] =
      steps.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    events
      .withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Option[Long], List[(Long, Int)], Boolean), (Long, Int, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
            state: GroupState[(Option[Long], List[(Long, Int)], Boolean)]) =>
          val wmMs = math.max(state.getCurrentWatermarkMs(), 0L)
          val wmUs = wmMs * 1000L
          var (anchor, buf, emitted) = state.getOption
            .getOrElse((Option.empty[Long], List.empty[(Long, Int)], false))
          if (!emitted) rows.foreach { case (_, _, us, et) =>
            // non-step types fall through: watermark drivers only
            idxsOf.getOrElse(et, Nil).foreach {
              case 0 => anchor = Some(anchor.fold(us)(math.min(_, us)))
              case i => buf = (us, i) :: buf
            }
          }
          // prune: see scaladoc — window-bounded either way
          buf = anchor match {
            case Some(a) => buf.filter(_._1 <= a + windowUs)
            case None => buf.filter(_._1 >= wmUs)
          }
          val closed = anchor.exists(a => wmUs > a + windowUs)
          val out: Iterator[(Long, Int, Long)] =
            if (!emitted && closed) {
              val a = anchor.get
              var prev = a
              var reached = 1
              var i = 1
              var cont = true
              while (cont && i < steps.size) {
                val cand = buf.collect {
                  case (us, j) if j == i && us > prev && us <= a + windowUs => us
                }
                if (cand.isEmpty) cont = false
                else { prev = cand.min; reached = i + 1; i += 1 }
              }
              emitted = true
              buf = Nil
              Iterator.single((user, reached, a))
            } else Iterator.empty
          val wasTombstone = state.getOption.exists(_._3)
          if (emitted) {
            if (wasTombstone && state.hasTimedOut) state.remove() // GC
            else {
              state.update((anchor, Nil, true))
              state.setTimeoutTimestamp(wmMs + gcMs)
            }
          } else if (anchor.isEmpty && buf.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update((anchor, buf, false))
            // wake at window close (anchor known) or GC horizon (buffer
            // only); timeouts must exceed the current watermark. Ceiling
            // division: with a truncating (a/1000 + windowUs/1000) a
            // non-ms-aligned windowUs could fire the timeout with `closed`
            // still false (wmUs == a + windowUs - sub-ms remainder), re-arm
            // at wmMs + 1, and after a final sentinel batch never emit.
            val target = anchor.map(a => (a + windowUs + 999L) / 1000L)
              .getOrElse(wmMs + gcMs)
            state.setTimeoutTimestamp(math.max(target, wmMs) + 1L)
          }
          out
      }
      .toDF("user_id", "reached", "anchor_us")
  }
}
