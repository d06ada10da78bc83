package enginebench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Command-line settings of one run (see run.py for their meaning). */
final case class Settings(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    scratch: String, cores: Int)

object Settings {
  def parse(args: Array[String]): Settings = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Settings(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("scratch"), need("cores").toInt)
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}

/** Spark work attributed to one traced operation, or to one named phase
  * of it. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One traced call: its wall window and the Spark work per phase tag. */
final case class TracedCall(
    kind: String, wallMs: Double, startMs: Long, endMs: Long,
    phases: Map[String, Counters], phaseMs: Map[String, Double]) {

  /** All phases together. */
  lazy val total: Counters = {
    val t = new Counters
    phases.values.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskCpuNs += c.taskCpuNs; t.gcMs += c.gcMs; t.inputRows += c.inputRows
      t.shuffleWriteBytes += c.shuffleWriteBytes
      t.shuffleReadBytes += c.shuffleReadBytes
      t.spillBytes += c.spillBytes; t.bytesWritten += c.bytesWritten
      t.jobSpans ++= c.jobSpans
    }
    t
  }

  /** Wall time of the call not covered by any Spark job: planning, driver
    * routing, collects and scheduler round-trips. */
  def driverGapMs: Double = {
    val spans = total.jobSpans.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) }.filter(p => p._2 > p._1).sorted
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, wallMs - covered)
  }
}

/** SparkListener keyed by the job's phase tag (a thread-local property the
  * recorder sets around each phase). It is registered only around traced
  * calls, so untraced calls in the same run pay nothing for it. */
final class PhaseListener extends SparkListener {
  private val byTag = mutable.Map.empty[String, Counters]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  def reset(): Unit = synchronized { byTag.clear(); stageTag.clear(); jobStart.clear() }
  def snapshot(): Map[String, Counters] = synchronized { byTag.toMap }

  private def counters(tag: String) = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.TagKey)))
      .getOrElse("untagged")
    counters(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
    jobStart(e.jobId) = (tag, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t0) =>
      counters(tag).jobSpans += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTag.get(e.stageId).foreach { tag =>
      val c = counters(tag)
      c.tasks += 1
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Streaming progress of every micro-batch, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { progress += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { progress.toList }
}

/** Runs, times, checks and counts every operation of a workload.
  *
  * A call that throws is a failed operation, and so is a call whose output
  * fails its check; each failure keeps its error class and first message
  * line per operation kind. In a traced run the calls of a kind follow
  * the pattern traced, untraced, untraced, traced (repeating), so both
  * sets share the warm state and a steady warm-up trend cancels; their
  * medians give the tracing overhead. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  private val sc = spark.sparkContext
  val attempted = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val failed = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val errors = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Int]]
  /** kind -> (wall ms, was the call traced) of every call that returned. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  val tracedCalls = mutable.ArrayBuffer.empty[TracedCall]
  /** Calls that returned an output their check rejected. */
  var wrongOutputs = 0
  /** Wall ms of the latest call, returned or thrown. */
  var lastMs = 0.0

  private val listener = new PhaseListener
  private var current: Option[(String, mutable.Map[String, Double])] = None

  private def fail(kind: String, why: String): Unit = {
    failed(kind) += 1
    val e = errors.getOrElseUpdate(kind, mutable.LinkedHashMap.empty[String, Int])
    val key = why.take(240)
    e(key) = e.getOrElse(key, 0) + 1
  }

  /** One attempted operation. `body` is timed; `check` (untimed) returns
    * an error description for a wrong output. Returns the output when the
    * call returned, whether or not its check passed. */
  def call[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val n = attempted(kind)
    attempted(kind) = n + 1
    val tracedNow = traced && (n % 4 == 0 || n % 4 == 3)
    if (tracedNow) {
      listener.reset()
      sc.addSparkListener(listener)
      current = Some((kind, mutable.Map.empty[String, Double]))
    }
    sc.setLocalProperty(TagKey, kind)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    lastMs = ms
    val wall1 = System.currentTimeMillis()
    sc.setLocalProperty(TagKey, null)
    if (tracedNow) {
      BenchBus.drain(sc)
      sc.removeSparkListener(listener)
      tracedCalls += TracedCall(kind, ms, wall0, wall1, listener.snapshot(),
        current.get._2.toMap)
      current = None
    }
    out match {
      case Left(e) =>
        fail(kind, describe(e))
        None
      case Right(v) =>
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((ms, tracedNow))
        val bad =
          try check(v)
          catch { case e: Throwable => Some("check threw " + describe(e)) }
        bad.foreach { b => wrongOutputs += 1; fail(kind, "check: " + b) }
        Some(v)
    }
  }

  /** A named phase inside the current call: its jobs are tagged
    * `<kind>.<name>` and its wall time kept, when the call is traced. */
  def phase[T](name: String)(body: => T): T = current match {
    case None => body
    case Some((kind, ms)) =>
      val tag = s"$kind.$name"
      sc.setLocalProperty(TagKey, tag)
      val t0 = System.nanoTime()
      try body
      finally {
        ms(tag) = ms.getOrElse(tag, 0.0) + (System.nanoTime() - t0) / 1e6
        sc.setLocalProperty(TagKey, current.map(_._1).orNull)
      }
  }

  def times(kind: String, tracedOnly: Option[Boolean] = None): Seq[Double] =
    samples.getOrElse(kind, Nil).collect {
      case (ms, t) if tracedOnly.forall(_ == t) => ms
    }.toSeq

  def calls(kind: String): Seq[TracedCall] = tracedCalls.filter(_.kind == kind).toSeq

  def totalAttempted: Int = attempted.values.sum
  def totalFailed: Int = failed.values.sum
}

object Recorder {
  val TagKey = "enginebench.tag"

  def describe(e: Throwable): String = {
    val first = Option(e.getMessage).getOrElse("").linesIterator.find(_.trim.nonEmpty)
      .getOrElse("")
    // file paths name the run's scratch directory; keep the class of error
    s"${e.getClass.getName}: ${first.replaceAll("file:[^ ]+", "<file>")}"
  }
}

/** What a workload hands back: end-to-end metrics, per-layer metrics (traced
  * run only; layers the workload never enters are left out and read as 0)
  * and details for the artifact. Units are those of BENCHMARK.json. */
final case class Outcome(
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    details: Map[String, Any])
