package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, Sort}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.IndexQueries
import graft.core.Tables
import graft.plans.{KnnIndexRegistry, KnnIndexRewrite}

/** [[graft.plans.KnnIndexRewrite]] — the Catalyst rule that rewrites the
  * naive ORDER-BY-distance-LIMIT-k plan to the LSH index path (SURVEY
  * §4.2 custom piece 3). Asserts the PLAN transformation (the naive plan
  * is join-free; the rewritten one contains the bucket join and no sort
  * over the corpus scan), result parity at the exhaustive budget,
  * serving-budget recall sanity, the opt-out config, and that
  * unregistered corpora / non-matching shapes are left alone. */
class KnnRewriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** PRIVATE copy of the embeddings fixture: other suites `.cache()` the
    * shared sf0.001 table, and the CacheManager then substitutes an
    * InMemoryRelation into every later scan of that path — the naive
    * Sort/Project/LogicalRelation shape never forms and the rule
    * (conservatively, by design) does not fire on cached plans. A
    * spec-owned path keeps these plan-shape tests deterministic under
    * any suite ordering. */
  private lazy val dir: String = {
    val d = SparkTestBase.tmpDir("knnrw_fixture")
    org.apache.commons.io.FileUtils.copyFile(
      new java.io.File(SparkTestBase.sf0001, "embeddings.parquet"),
      new java.io.File(d, "embeddings.parquet"))
    d
  }

  private def naivePlan(k: Int = 10) = {
    val e = Tables.embeddings(spark, dir)
    val q0 = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    e.select(col("vec_id"),
        round(graft.functions.Distances.l2sq(
          col("embedding").cast("array<double>"),
          array(q0.map(lit): _*)), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  private def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.nonEmpty

  /** The brute-force signature: a Sort sitting DIRECTLY on the projected
    * corpus scan (every scanned row flows into the sort). The rewritten
    * plan keeps a Sort on top, but its child is the k-row index-path
    * result (joins/aggregates), never a bare Project-over-relation. */
  private def sortsOverScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case Sort(_, _,
        org.apache.spark.sql.catalyst.plans.logical.Project(_,
          _: LogicalRelation), _) => ()
    }.nonEmpty

  private def withIndex[A](searchK: Option[Int])(body: => A): A = {
    val (path, model) = IndexQueries.LshCache.ensurePath(spark, dir)
    KnnIndexRewrite.install(spark)
    KnnIndexRegistry.register(spark, KnnIndexRegistry.Entry(
      vectorsPath = s"$dir/embeddings.parquet",
      indexPath = path, model = model, searchK = searchK))
    try body
    finally KnnIndexRegistry.unregister(spark, s"$dir/embeddings.parquet")
  }

  test("unregistered corpus: the naive plan is left alone (no join)") {
    KnnIndexRewrite.install(spark)
    // another suite (the catalog entry) may have registered this corpus
    // in the shared session — clear it so this test means what it says
    KnnIndexRegistry.unregister(spark, s"$dir/embeddings.parquet")
    val df = naivePlan()
    assert(!hasJoin(df), "rewrite fired without a registered index")
    assert(sortsOverScan(df), "expected the brute-force sort over the scan")
  }

  test("registered + exhaustive budget: plan rewritten (bucket join in, " +
      "corpus sort out) and results equal brute force exactly") {
    withIndex(Some(Int.MaxValue)) {
      val df = naivePlan()
      assert(hasJoin(df), "rewrite did not fire on a registered corpus")
      assert(!sortsOverScan(df),
        "the corpus-wide sort survived the rewrite")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      // reference via the independent exact kernel (TopKAgg path, no
      // sort+limit shape — immune to this rule by construction)
      val e = Tables.embeddings(spark, dir)
      val queries = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = graft.ops.SimSearch.exactTopK(queries, e, k = 10)
        .select("vec_id", "dist")
        .orderBy("dist", "vec_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == exact.toSeq,
        s"rewritten result diverged from exact:\n${got.toSeq}\nvs\n${exact.toSeq}")
    }
  }

  test("serving budget: rewrite fires and the top-10 recall vs exact is " +
      "high (index path, approximate by design)") {
    withIndex(None) {
      val df = naivePlan()
      assert(hasJoin(df), "rewrite did not fire at the serving budget")
      val got = df.collect().map(_.getLong(0)).toSet
      val e = Tables.embeddings(spark, dir)
      val queries = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = graft.ops.SimSearch.exactTopK(queries, e, k = 10)
        .collect().map(_.getLong(1)).toSet
      val recall = (got & exact).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall@10 through the rewrite: $recall")
    }
  }

  test("opt-out config disables the rewrite; re-enable restores it") {
    withIndex(Some(Int.MaxValue)) {
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.KnnIndexRewrite")
      try assert(!hasJoin(naivePlan()), "rewrite fired while excluded")
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
      assert(hasJoin(naivePlan()), "rewrite did not restore after unset")
    }
  }

  test("non-matching shapes are left alone: DESC sort, foreign sort key, " +
      "cosine metric, oversized k") {
    withIndex(Some(Int.MaxValue)) {
      val e = Tables.embeddings(spark, dir)
      val q0 = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      val dist = round(graft.functions.Distances.l2sq(
        col("embedding").cast("array<double>"), array(q0.map(lit): _*)), 4)
      val desc = e.select(col("vec_id"), dist.as("dist"))
        .orderBy(col("dist").desc).limit(10)
      assert(!hasJoin(desc), "rewrite fired on a DESC (farthest-k) sort")
      val byId = e.select(col("vec_id"), dist.as("dist"))
        .orderBy(col("vec_id")).limit(10)
      assert(!hasJoin(byId), "rewrite fired on a non-distance sort key")
      val cos = e.select(col("vec_id"),
          round(graft.functions.Distances.cosine(
            col("embedding").cast("array<double>"),
            array(q0.map(lit): _*)), 4).as("dist"))
        .orderBy(col("dist")).limit(10)
      assert(!hasJoin(cos),
        "rewrite fired on round-quantized cosine (trunc-quantized path)")
      val bigK = e.select(col("vec_id"), dist.as("dist"))
        .orderBy(col("dist")).limit(5000)
      assert(!hasJoin(bigK), "rewrite fired past maxK")
    }
  }

  test("catalog entry knn_rewrite_index matches the exact scan on the " +
      "fixture (the gate the driver hash-checks)") {
    val got = IndexQueries.knnRewriteIdx.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(!got.exists(_._1 == -1L), "poison row: the rewrite did not fire")
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = graft.ops.SimSearch.exactTopK(queries, e, k = 10)
      .select("vec_id", "dist").orderBy("dist", "vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact, s"catalog entry diverged:\n$got\nvs\n$exact")
  }
}
