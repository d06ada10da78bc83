package enginebench

import java.io.File

/** Seeded inputs. Every value depends only on (seed, index), never on
  * partitioning or call order, so the same seed gives the same inputs. */
object Gen {
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, i: Long): java.util.Random = new java.util.Random(mix(seed, i))

  /** `n` cluster centres with N(0, 1) coordinates. */
  def centres(seed: Long, n: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(n) { c =>
      val r = rng(seed ^ 0x5EEDL, c)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }

  /** Point `i`: a centre chosen by the point's own stream plus isotropic
    * N(0, spread²) noise. */
  def point(seed: Long, i: Long, centres: Array[Array[Float]], spread: Double): Array[Float] = {
    val r = rng(seed, i)
    val c = centres(r.nextInt(centres.length))
    Array.tabulate(c.length)(j => (c(j) + spread * r.nextGaussian()).toFloat)
  }
}

/** Per-layer figures from the traced calls of one kind. Counts come from
  * the first `First` traced calls, which are the same calls in every run
  * with the same seed, so they repeat exactly; times use the same calls. */
object Layer {
  val First = 6

  def first(rec: Recorder, kind: String): Seq[TracedCall] = rec.calls(kind).take(First)

  def med(calls: Seq[TracedCall])(f: TracedCall => Double): Double =
    if (calls.isEmpty) 0.0 else Stats.median(calls.map(f))

  /** Median jobs and wall ms of one phase (`<kind>.<phase>`). */
  def phase(rec: Recorder, kind: String, name: String): (Double, Double) = {
    val cs = first(rec, kind)
    val tag = s"$kind.$name"
    (med(cs)(_.phases.get(tag).map(_.jobs.toDouble).getOrElse(0.0)),
      med(cs)(_.phaseMs.getOrElse(tag, 0.0)))
  }

  /** The spark.<role>.* metrics: median Spark work per call of `kind`. */
  def spark(rec: Recorder, kind: String, role: String): Map[String, Double] = {
    val cs = first(rec, kind)
    Map[String, TracedCall => Double](
      "jobs" -> (_.total.jobs.toDouble),
      "stages" -> (_.total.stages.toDouble),
      "tasks" -> (_.total.tasks.toDouble),
      "driver_gap_ms" -> (_.driverGapMs),
      "task_cpu_ms" -> (_.total.taskCpuNs / 1e6),
      "gc_ms" -> (_.total.gcMs.toDouble),
      "input_rows" -> (_.total.inputRows.toDouble),
      "shuffle_write_bytes" -> (_.total.shuffleWriteBytes.toDouble),
      "shuffle_read_bytes" -> (_.total.shuffleReadBytes.toDouble),
      "spill_bytes" -> (_.total.spillBytes.toDouble))
      .map { case (n, f) => s"spark.$role.$n" -> med(cs)(f) }
  }

  /** Items per second over calls of `perCall` items each; NaN (a failed
    * run) when there are no calls. */
  def rate(times: Seq[Double], perCall: Double): Double =
    if (times.isEmpty) Double.NaN else perCall * times.size / (times.sum / 1000.0)

  /** trace.overhead.<metric>: traced-call value minus untraced-call value
    * of each timed end-to-end metric in the same run; for items_per_s, of
    * the median call's rate. NaN, which fails the run, when either side
    * has no calls. */
  def overhead(
      rec: Recorder, opKind: String, bulkKind: String,
      perBulk: Double): Map[String, Double] = {
    def p50(t: Boolean) = Stats.median(rec.times(opKind, Some(t)))
    // the rate of the median call, so that one slow call (the first after
    // a compaction) does not decide which side is faster
    def items(t: Boolean) = perBulk / (Stats.median(rec.times(bulkKind, Some(t))) / 1000.0)
    Map(
      "trace.overhead.op_p50_ms" -> (p50(true) - p50(false)),
      "trace.overhead.items_per_s" -> (items(true) - items(false)))
  }

  /** The end-to-end metrics from the recorded calls. */
  def endToEnd(
      rec: Recorder, setupS: Double, recall: Double, opKind: String,
      bulkKind: String, perBulk: Double): Map[String, Double] =
    Map(
      "setup_s" -> setupS,
      "success_rate" ->
        (rec.totalAttempted - rec.totalFailed).toDouble / math.max(1, rec.totalAttempted),
      "recall" -> recall,
      "op_p50_ms" -> Stats.median(rec.times(opKind)),
      "items_per_s" -> rate(rec.times(bulkKind), perBulk))

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}
