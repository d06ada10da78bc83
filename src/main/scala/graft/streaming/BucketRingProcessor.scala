package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}
import org.apache.spark.util.LongAccumulator

/** What the bucket ring reads of a live prior: its id and event-time ms,
  * the (ts, id) order every ring decision uses. */
trait RingEntry {
  def id: Long
  def ts: Long
}

/** One live prior in a near-dup bucket: (vec_id, embedding, event-time ms).
  * `emb` is a primitive float array — the state encoder writes it as a
  * packed binary column, dim·4 B per entry. */
final case class LiveVec(id: Long, emb: Array[Float], ts: Long)
    extends RingEntry

/** One live prior in a TEXT near-dup band bucket: (doc_id, minhash
  * signature as ONE flat binary cell of fixed-width entries — family-
  * blind modulo the entry width, see [[SigNearDupProcessor]] — and
  * event-time ms). r16 state layout: the r15 form held the signature as
  * `Array[String]` (16 hex/decimal strings, one array cell each); the
  * flat cell carries the identical information in 256 B (md5) / 64 B
  * (affine) with a single offset, halving-or-better the RocksDB value
  * bytes and the changelog traffic per appended prior. */
final case class LiveSig(id: Long, sig: Array[Byte], ts: Long)
    extends RingEntry

/** The one state machine behind both near-dup streams
  * ([[StreamOps.nearDupPairsStream]], [[StreamOps.embNearDupStream]]):
  * "route to a bucket, then compare exactly against what the bucket
  * holds", made continuous. Keyed by bucket, it emits (prior_id,
  * arrival_id, score) for every within-horizon live prior whose
  * [[score]] against a new arrival is >= `minScore`. A subclass supplies
  * only the entry type `E` built from the row payload `P` and the score;
  * the prune, ring, write and timer logic below exists once.
  *
  * STATE LAYOUT (the round-10→11 fix): the bucket's live set is a
  * `ListState[E]` named "live", and the hot write path is `appendList` of
  * just the batch's NEW arrivals — an O(new) RocksDB merge — instead of
  * the flatMapGroupsWithState value rewrite, which serialized the WHOLE
  * live list back through the changelog on every touch. That rewrite was
  * the measured growth term under an unbounded horizon (round 10,
  * vectors: per-batch walls 3.7 → 11–17 s at dim 64, and flat at dim 8
  * where the same rewrite is 8× cheaper — the cost is value BYTES, not
  * key count). With append-only writes the per-batch changelog is
  * arrival-bound, horizon-independent. The full list is still READ once
  * per touched bucket (the compare against every live prior is the
  * operator's semantics), but reads are memtable/block-cache hits, not
  * commit-path serialization.
  *
  * PHYSICAL EXPIRY, without the per-batch full-state timeout scan of
  * flatMapGroupsWithState: the bucket carries exactly ONE registered
  * event-time timer at (bucket max ts + 2 ms) — it fires exactly when
  * the watermark passes the last entry's liveness bound (`ts >= wm - 1`,
  * the same in-call prune rule as the compare), and the expired-timer
  * handler drops dead entries (clearing the key when none survive). The
  * registered expiry lives in a `ValueState[Long]` named "timerTs" next
  * to the list: a touch that advances the bucket's max ts DELETES the
  * prior timer and registers the new one (round-12 discipline — never
  * one stacked timer per touch). A hot bucket compacts opportunistically
  * instead: when expired entries outnumber live ones at read time, the
  * write path switches from append to a single compacting `put` —
  * amortized O(1) per arrival.
  *
  * RING CAP: `occupancyCap` bounds the live set at the newest `cap`
  * entries by (ts, id), enforced PER ARRIVAL (round 12), not per batch
  * write, so the compare set an arrival sees is the newest-cap live
  * priors however the stream was chunked into micro-batches: identical
  * in-order streams framed differently emit identical pair sets. For
  * vectors this is the streaming enforcement of the occupancy contract
  * the batch path's `refineBuckets` median-split cuts establish (≈16 per
  * sub-bucket at build time; the default cap is 4× that as drift
  * headroom). Text band buckets are near-unique for organic text, but a
  * BOILERPLATE-heavy stream puts every copy of a template in ONE bucket —
  * the streaming form of the batch side's hot-bucket trap (SURVEY §8.2).
  * Either way beyond-cap priors age out oldest-first and per-touch
  * compare and trim work never exceeds the cap; the batch pass is the
  * documented hand-off for beyond-cap duplication mass.
  *
  * DROP OBSERVABILITY: every live prior the ring evicts increments
  * `dropCounter` (when wired) — the signal a production stream watches
  * to see the cap biting (a silent drop is a recall loss invisible until
  * the batch pass runs). Organic streams assert it stays ZERO; the
  * boilerplate hot-bucket case asserts it goes nonzero.
  *
  * Rows process in (ts, id) order, so the prior is always the earlier
  * arrival (ties: smaller id) — deterministic output for a deterministic
  * replay. Requires the RocksDB provider ([[StreamOps.withRocksDbStateStore]]). */
abstract class BucketRingProcessor[P, E <: RingEntry: ClassTag](
    minScore: Long, occupancyCap: Int, dropCounter: Option[LongAccumulator])
    extends StatefulProcessor[
      String, (String, java.sql.Timestamp, Long, P), (Long, Long, Long)] {

  /** The "live" list's entry encoder (called on the executor, in init). */
  protected def entryEncoder: Encoder[E]

  /** The live entry an arriving row becomes. */
  protected def entry(id: Long, payload: P, ts: Long): E

  /** How well `arrival` matches `prior`; the pair emits at >= minScore. */
  protected def score(prior: E, arrival: E): Long

  @transient private var live: ListState[E] = _
  @transient private var timerTs: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    live = getHandle.getListState[E]("live", entryEncoder, TTLConfig.NONE)
    timerTs = getHandle.getValueState[Long](
      "timerTs", Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Keep the bucket's single registered timer at `target` — delete the
    * previously registered one first (never stack timers per touch). */
  private def ensureTimer(target: Long): Unit = {
    val prev = if (timerTs.exists()) timerTs.get() else Long.MinValue
    if (target > prev) {
      if (prev != Long.MinValue) getHandle.deleteTimer(prev)
      getHandle.registerTimer(target)
      timerTs.update(target)
    }
  }

  private def clearTimer(): Unit =
    if (timerTs.exists()) {
      getHandle.deleteTimer(timerTs.get())
      timerTs.clear()
    }

  private def later(a: E, b: E): Boolean =
    a.ts > b.ts || (a.ts == b.ts && a.id > b.id)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, java.sql.Timestamp, Long, P)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val wm = math.max(timerValues.getCurrentWatermarkInMs(), 0L)
    var nPrior = 0
    val buf = scala.collection.mutable.ArrayBuffer.empty[E]
    live.get().foreach { v =>
      nPrior += 1
      if (v.ts >= wm - 1) buf += v // in-call prune of expired priors
    }
    val nExpired = nPrior - buf.length
    buf.sortInPlace()(Ordering.by((v: E) => (v.ts, v.id)))
    var dropped = 0L
    while (buf.length > occupancyCap) { buf.remove(0); dropped += 1 }
    val out = Seq.newBuilder[(Long, Long, Long)]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[E]
    rows.toSeq.sortBy(r => (r._2.getTime, r._3)).foreach {
      case (_, ts, id, payload) =>
        val lv = entry(id, payload, ts.getTime)
        var j = 0
        while (j < buf.length) {
          val p = buf(j)
          val s = score(p, lv)
          if (s >= minScore && p.id != id) out += ((p.id, id, s))
          j += 1
        }
        // sorted insert (arrivals are (ts, id)-ordered, so this is an
        // append unless a live prior from an earlier batch is newer)
        var at = buf.length
        while (at > 0 && later(buf(at - 1), lv)) at -= 1
        buf.insert(at, lv)
        fresh += lv
        if (buf.length > occupancyCap) { // per-arrival ring trim
          buf.remove(0)
          dropped += 1
        }
    }
    if (dropped > 0) dropCounter.foreach(_.add(dropped))
    if (buf.nonEmpty) {
      if (dropped > 0 || nExpired > buf.length) {
        // ring evictions / an expired majority rewrite the list; the
        // hot path below stays an O(new) append
        live.put(buf.toArray)
      } else if (fresh.nonEmpty) {
        live.appendList(fresh.toArray)
      }
      ensureTimer(buf(buf.length - 1).ts + 2L)
    } else if (nPrior > 0) {
      live.clear() // every prior expired and nothing arrived live
      clearTimer()
    }
    out.result().iterator
  }

  override def handleExpiredTimer(
      key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val wm = math.max(timerValues.getCurrentWatermarkInMs(), 0L)
    if (timerTs.exists() && timerTs.get() == expiredTimerInfo.getExpiryTimeInMs)
      timerTs.clear() // the single registered timer just fired
    val kept = live.get().filter(_.ts >= wm - 1).toArray
    if (kept.isEmpty) live.clear()
    else {
      // stale-timer partial prune (restored checkpoints can carry
      // pre-discipline stacked timers): keep state + re-arm the bound
      live.put(kept)
      var maxTs = Long.MinValue
      kept.foreach(v => if (v.ts > maxTs) maxTs = v.ts)
      ensureTimer(maxTs + 2L)
    }
    Iterator.empty
  }
}

/** The ring behind [[StreamOps.embNearDupStream]]: keyed by (tree, leaf,
  * sub) bucket, it emits (vec_a, vec_b, cos_1e4) for every live prior
  * whose cosine with a new arrival, quantized to 1e4, is >= `thr1e4`. */
final class EmbNearDupProcessor(thr1e4: Long, occupancyCap: Int,
    dropCounter: Option[LongAccumulator] = None)
    extends BucketRingProcessor[Seq[Float], LiveVec](
      thr1e4, occupancyCap, dropCounter) {

  protected def entryEncoder: Encoder[LiveVec] = Encoders.product[LiveVec]

  protected def entry(id: Long, emb: Seq[Float], ts: Long): LiveVec = {
    val e = new Array[Float](emb.length)
    var i = 0
    while (i < emb.length) { e(i) = emb(i); i += 1 }
    LiveVec(id, e, ts)
  }

  protected def score(prior: LiveVec, arrival: LiveVec): Long = {
    val a = prior.emb; val b = arrival.emb
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0L
    else math.round(dot / math.sqrt(na * nb) * 10000)
  }
}

/** The ring behind [[StreamOps.nearDupPairsStream]]: keyed by (band_id,
  * band_hash) bucket, it emits (doc_a, doc_b, n_agree) for every live
  * prior whose signature agrees with a new arrival in >= `minAgree`
  * positions. Signatures arrive as flat binary cells of `entryWidth`-byte
  * entries (16 = raw md5 digests, 4 = big-endian affine values — both
  * injective encodings, so slice equality ≡ the old string-entry equality
  * and the agreement count is unchanged by construction).
  *
  * STATE-SCHEMA NOTE (the r15→r16 upgrade): `sig` changed from
  * ARRAY<STRING> to BINARY, and Spark's state-schema compatibility check
  * rejects a checkpoint restore across it: `BucketRingSpec` "a checkpoint
  * written with the r15 live-entry shape fails the restart on its state
  * schema" pins that error. A production stream upgrades by draining to a
  * new checkpoint and rebuilding state from the watermark horizon (pairs
  * older than `lateness` are the batch pass's job anyway — the documented
  * hand-off), like any stateful-operator schema change. The catalog gates
  * start a fresh checkpoint per invocation, so the bench and oracle
  * replay are unaffected. */
final class SigNearDupProcessor(minAgree: Int, entryWidth: Int,
    occupancyCap: Int, dropCounter: Option[LongAccumulator] = None)
    extends BucketRingProcessor[Array[Byte], LiveSig](
      minAgree.toLong, occupancyCap, dropCounter) {

  protected def entryEncoder: Encoder[LiveSig] = Encoders.product[LiveSig]

  protected def entry(id: Long, sig: Array[Byte], ts: Long): LiveSig =
    LiveSig(id, sig, ts)

  /** Positional agreement of two flat signatures: the count of equal
    * `entryWidth`-byte slices (entries past the shorter cell don't
    * count — same truncation rule as the string form's min-length). */
  protected def score(prior: LiveSig, arrival: LiveSig): Long = {
    val a = prior.sig; val b = arrival.sig
    var agree = 0
    var k = 0
    val n = math.min(a.length, b.length) / entryWidth
    while (k < n) {
      val off = k * entryWidth
      if (java.util.Arrays.equals(
          a, off, off + entryWidth, b, off, off + entryWidth)) agree += 1
      k += 1
    }
    agree
  }
}
