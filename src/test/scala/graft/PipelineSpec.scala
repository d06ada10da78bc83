package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.catalog.PipelineQueries
import graft.core.Tables

/** Gates on the end-to-end curation pipeline (doc_pipeline_curate): the
  * dedup stage must provably collapse the doubled crawl, every stage's
  * invariant must hold in the rollup, and the composed plan must stay
  * deterministic across executions. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sf0001

  private lazy val rollup = PipelineQueries.curate.run(spark, dir).collect()
  private lazy val nDocs = Tables.documents(spark, dir).count()

  test("dedup collapses the doubled crawl: survivors never exceed the corpus") {
    val survivors = rollup.map(_.getLong(2)).sum
    assert(survivors > 0, "pipeline filtered everything out")
    assert(survivors <= nDocs,
      s"$survivors survivors from a corpus of $nDocs — duplicates kept")
  }

  test("rollup invariants: agreement bounded by group size, positive sums") {
    assert(rollup.nonEmpty)
    rollup.foreach { r =>
      val (n, matched, tokens, quality) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(matched >= 0 && matched <= n)
      // the filter floor (quality >= 0.25, word_tokens >= 10) must show in
      // the per-group sums
      assert(tokens >= 10 * n)
      assert(quality >= 2500 * n)
    }
  }

  test("v2 near-dup stage strictly tightens the keep-set, per group") {
    val v2 = PipelineQueries.curateNearDup.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val v1 = rollup.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v2.nonEmpty)
    // every v2 group exists in v1 with at least as many docs
    v2.foreach { case (g, n) => assert(v1.getOrElse(g, 0L) >= n, s"group $g grew") }
    assert(v2.values.sum < v1.values.sum,
      "near-dup stage dropped nothing — vacuous on a corpus with planted near-dups")
  }

  test("quality gate is a real filter: some docs are rejected") {
    val survivors = rollup.map(_.getLong(2)).sum
    assert(survivors < nDocs,
      "no doc fell below the quality/length/lang gates — thresholds vacuous")
  }

  test("composed plan is deterministic across executions") {
    val again = PipelineQueries.curate.run(spark, dir).collect()
    assert(rollup.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("quality gate and quantization are exact at planted boundaries") {
    // Three crafted docs (constants hand-derived from the formula
    // q_num = alpha_len * min(n_tok, 100); quality = q_num / (text_len*100)):
    //  - pass:  q_num = 5050 = 25 * 202 — EXACTLY on the gate (>=, so kept),
    //           quality_1e4 = 2500 with zero remainder
    //  - fail:  q_num = 5000 < 25 * 202 — one alpha char short, rejected
    //  - trunc: q_num*100 / text_len = 2511.94… — floor gives 2511 where
    //           round() would give 2512; pins truncation semantics
    val passText = (Seq.fill(48)("ab.") :+ "the" :+ "ab....").mkString(" ")
    val failText = (Seq.fill(48)("ab.") :+ "the" :+ "a.....").mkString(" ")
    val truncText = (Seq.fill(31)("abc") :+ "the" :+ "zzzzzz").mkString(" ")
    val tmp = SparkTestBase.tmpDir("graft_planted")
    import spark.implicits._
    Seq((1L, passText, "en", "planted", passText.length.toLong),
        (2L, failText, "en", "planted", failText.length.toLong),
        (3L, truncText, "en", "planted", truncText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = PipelineQueries.curate.run(spark, tmp).collect()
    assert(rows.length == 1, s"expected one (planted, en) group: ${rows.toSeq}")
    val r = rows.head
    assert(r.getString(0) == "planted" && r.getString(1) == "en")
    assert(r.getLong(2) == 2, "boundary doc must pass the >= gate; fail doc must not")
    assert(r.getLong(3) == 2)
    assert(r.getLong(4) == 50L + 33L)
    assert(r.getLong(5) == 2500L + 2511L,
      s"expected truncation (2511), not rounding (2512): got ${r.getLong(5)}")
  }

  test("stopword table rides as a broadcast, not a shuffle") {
    val plan = PipelineQueries.curate.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join for the stopword table:\n$plan")
  }

  test("ccnet: per-lang terciles balance, buckets partition each language") {
    val rows = PipelineQueries.ccnet.run(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one bucket assignment per doc")
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_.getString(3)).view.mapValues(_.length).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      val n = rs.length
      val head = byBucket.getOrElse("head", 0)
      val tail = byBucket.getOrElse("tail", 0)
      // within a language, every head doc has ppl <= every tail doc
      val maxHead = rs.filter(_.getString(3) == "head")
        .map(_.getLong(2)).maxOption.getOrElse(Long.MinValue)
      val minTail = rs.filter(_.getString(3) == "tail")
        .map(_.getLong(2)).minOption.getOrElse(Long.MaxValue)
      assert(maxHead <= minTail,
        s"$lang bucket order violated: head max $maxHead > tail min $minTail")
      // type-7 tercile thresholds split an integer sample into thirds up
      // to TIES at the boundary value: every doc equal to a threshold
      // lands in the lower bucket, so the balance slack must widen by the
      // boundary tie-group size (micro-nat ppl_q makes big tie groups
      // unlikely, but a fixture/SF change must not flake this test)
      val headTies = rs.count(_.getLong(2) == maxHead)
      val tailTies = rs.count(_.getLong(2) == minTail)
      assert(math.abs(head - n / 3) <= 2 + headTies &&
        math.abs(tail - n / 3) <= 2 + tailTies,
        s"$lang terciles unbalanced: $byBucket over $n docs")
      // the CCNet keep (head+middle) is ~2/3 of the language
      assert(head + byBucket.getOrElse("middle", 0) >= 2 * n / 3 - 2 - tailTies)
    }
  }

  test("ccnet: tercile table broadcasts; only per-doc windows") {
    val plan = PipelineQueries.ccnet.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"the languages-sized tercile table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.forall(_.contains("doc_id")),
      s"every window must be doc-partitioned (lang-ID top-1 only):\n" +
        windows.mkString("\n"))
  }
}
