package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.engine.{EngineConfig, ZebraEngine}
import graft.index.LshForest

/** Engine lifecycle round-trip (SURVEY.md §2.2 D1–D10): create → insert →
  * query → dedup → remove → incremental index add → clear → reopen. */
class ZebraEngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val enginePath = SparkTestBase.tmpDir("test_engine")

  private lazy val emb = Tables.embeddings(spark, SparkTestBase.sf0001)
    .select(format_string("v%06d", col("vec_id")).as("id"), col("embedding"))
    .cache()

  private def freshEngine(): ZebraEngine = {
    ZebraEngine.destroy(enginePath)
    ZebraEngine.create(spark, enginePath, EngineConfig(dim = 64))
  }

  test("lifecycle round-trip: create, insert, query, dedup, remove, clear") {
    val eng = freshEngine()
    assert(eng.isEmpty)

    eng.insertRecords(emb)
    assert(eng.count() == 500)

    // exact query: each stored vector's top-1 is itself at distance 0
    val queries = emb.limit(3)
      .select(col("id").as("query_id"), col("embedding"))
    val top1 = eng.queryVectors(queries, k = 1).collect()
    assert(top1.length == 3)
    top1.foreach { r =>
      assert(r.getAs[String]("query_id") == r.getAs[String]("id"))
      assert(r.getAs[Double]("dist") == 0.0)
    }

    // dedup: re-insert the same 500 embeddings under new ids; first wins
    eng.insertRecords(emb.select(concat(lit("dup_"), col("id")).as("id"), col("embedding")))
    assert(eng.count() == 1000)
    eng.deduplicate()
    assert(eng.count() == 500)
    assert(eng.vectors.filter(col("id").startsWith("dup_")).count() == 0,
      "first-inserted must win")

    // remove
    eng.remove(emb.limit(10).select("id"))
    assert(eng.count() == 490)

    // clear
    eng.clear()
    assert(eng.isEmpty)
  }

  test("metadata round-trip: open reads back the created config") {
    freshEngine()
    val reopened = ZebraEngine.open(spark, enginePath)
    assert(reopened.config == EngineConfig(dim = 64))
    // openOrCreate on an existing engine opens it
    val viaOpenOrCreate = ZebraEngine.openOrCreate(
      spark, enginePath, EngineConfig(dim = 1))
    assert(viaOpenOrCreate.config.dim == 64)
    // create on an existing engine refuses
    intercept[IllegalStateException] {
      ZebraEngine.create(spark, enginePath, EngineConfig(dim = 64))
    }
  }

  test("indexed query + incremental add (I7): new batch routed through existing trees") {
    val eng = freshEngine()
    eng.insertRecords(emb.limit(400))
    eng.refreshIndex()

    // indexed self-retrieval
    val queries = emb.limit(3).select(col("id").as("query_id"), col("embedding"))
    val top1 = eng.queryVectors(queries, k = 1).collect()
    top1.foreach(r => assert(r.getAs[String]("query_id") == r.getAs[String]("id")))

    // incremental insert appends to the EXISTING index (no rebuild) and the
    // new vectors are immediately retrievable through the indexed path
    val rest = emb.exceptAll(emb.limit(400))
    eng.insertRecords(rest)
    assert(eng.count() == 500)
    val newQ = rest.limit(2).select(col("id").as("query_id"), col("embedding"))
    val hits = eng.queryVectors(newQ, k = 1).collect()
    assert(hits.nonEmpty)
    hits.foreach { r =>
      assert(r.getAs[String]("query_id") == r.getAs[String]("id"))
      assert(r.getAs[Double]("dist") == 0.0)
    }

    // remove keeps the index consistent: removed ids never surface
    val victim = emb.limit(1)
    eng.remove(victim.select("id"))
    val vQ = victim.select(col("id").as("query_id"), col("embedding"))
    val after = eng.queryVectors(vQ, k = 5).collect()
    val victimId = victim.head().getString(0)
    assert(after.forall(_.getAs[String]("id") != victimId))
  }

  test("I8 compaction: overflowing leaves re-split in place, no global rebuild") {
    val eng = freshEngine()
    eng.insertRecords(emb.limit(100))
    eng.refreshIndex()
    assert(!eng.compactIndexIfNeeded(), "fresh index must not need compaction")
    val rowsBefore = spark.read.parquet(s"$enginePath/index").count()
    // route 400 more vectors through the existing 100-vector trees: leaves
    // overflow far past max_node_size
    eng.insertRecords(emb.exceptAll(emb.limit(100)))
    val rowsAfterInsert = spark.read.parquet(s"$enginePath/index").count()
    assert(rowsAfterInsert > rowsBefore)
    assert(eng.compactIndexIfNeeded(factor = 4.0), "overflowed index must compact")
    // leaf-local proof #1: the bound holds again on every REACHABLE leaf
    val maxLeaf = eng.liveIndex
      .groupBy("tree_id", "leaf_id").count().agg(max("count")).head().getLong(0)
    assert(maxLeaf <= 4 * eng.config.maxNodeSize,
      s"post-compaction max leaf $maxLeaf")
    // leaf-local proof #2: compaction APPENDED re-routed members instead of
    // rewriting the table — a global rebuild would leave exactly
    // count·numTrees rows; leaf-local leaves the stale rows in place.
    val rowsAfterCompact = spark.read.parquet(s"$enginePath/index").count()
    assert(rowsAfterCompact > rowsAfterInsert, "expected appended split rows")
    assert(rowsAfterCompact > eng.count() * eng.config.numTrees)
    assert(!eng.compactIndexIfNeeded(), "leaf bound must hold after one pass")
    // recall through the compacted index: every query's top-1 is itself
    val queries = emb.limit(5).select(col("id").as("query_id"), col("embedding"))
    val top1 = eng.queryVectors(queries, k = 1).collect()
    assert(top1.length == 5)
    top1.foreach { r =>
      assert(r.getAs[String]("query_id") == r.getAs[String]("id"))
      assert(r.getAs[Double]("dist") == 0.0)
    }
  }

  test("vacuumIndex reclaims split dead weight; results identical, no retrain") {
    val eng = freshEngine()
    eng.insertRecords(emb.limit(100))
    eng.refreshIndex()
    eng.insertRecords(emb.exceptAll(emb.limit(100)))
    assert(eng.compactIndexIfNeeded(factor = 4.0), "setup: must compact")
    val stale = spark.read.parquet(s"$enginePath/index").count() -
      eng.liveIndex.count()
    assert(stale > 0, "setup: compaction must strand stale rows")
    val queries = emb.limit(8).select(col("id").as("query_id"), col("embedding"))
    val before = eng.queryVectors(queries, k = 5).collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[String]("id"),
        r.getAs[Double]("dist"))).toSet
    val modelStampBefore =
      new java.io.File(s"$enginePath/index_model.bin").lastModified()
    assert(eng.vacuumIndex() == stale, "vacuum must reclaim exactly the dead rows")
    // stale/live back to 0; model untouched; routing (results) identical
    val total = spark.read.parquet(s"$enginePath/index").count()
    assert(total == eng.liveIndex.count(), "post-vacuum index must be all-live")
    assert(new java.io.File(s"$enginePath/index_model.bin").lastModified() ==
      modelStampBefore, "vacuum must not retrain or rewrite the model")
    val after = eng.queryVectors(queries, k = 5).collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[String]("id"),
        r.getAs[Double]("dist"))).toSet
    assert(after == before, "vacuum changed query results")
    assert(eng.vacuumIndex() == 0L, "second vacuum must be a no-op")
  }

  test("filtered query: predicate + kNN equals exact kNN of the filtered set") {
    val eng = freshEngine()
    eng.insertRecords(emb)
    eng.refreshIndex()
    val queries = emb.limit(4)
      .select(col("id").as("query_id"), col("embedding"))
    val pred = col("id") > "v000250" // string ids sort lexicographically
    // exhaustive budget: the indexed filtered path must equal exact
    // filtered kNN under ANY predicate
    val got = eng.queryVectors(queries, k = 5,
      searchK = Some(Int.MaxValue), where = Some(pred))
      .orderBy("query_id", "id").collect().toSeq
    val want = graft.ops.SimSearch.exactTopK(
      queries, emb.filter(pred), k = 5, vecId = "id")
      .orderBy("query_id", "id").collect().toSeq
    assert(got == want)
    // every hit satisfies the predicate
    got.foreach(r => assert(r.getAs[String]("id") > "v000250"))
  }

  /** Exhaustive-budget indexed answer and the exact answer over the
    * engine's current vectors, as comparable row sets. */
  private def exhaustiveVsExact(eng: ZebraEngine, queries: DataFrame, k: Int)
      : (Set[(String, String, Double)], Set[(String, String, Double)]) = {
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getAs[String]("query_id"), r.getAs[String]("id"),
        r.getAs[Double]("dist"))).toSet
    (rows(eng.queryVectors(queries, k, searchK = Some(Int.MaxValue))),
      rows(graft.ops.SimSearch.exactTopK(queries, eng.vectors, k, vecId = "id")))
  }

  test("deduplicate on an indexed engine keeps the index within the vectors") {
    val eng = freshEngine()
    eng.insertRecords(emb)
    eng.refreshIndex()
    // bit-exact copies routed into the existing index by the insert
    eng.insertRecords(emb.limit(50)
      .select(concat(lit("dup_"), col("id")).as("id"), col("embedding")))
    assert(eng.count() == 550)
    eng.deduplicate()
    assert(eng.count() == 500)
    val vecIds = eng.vectors.select("id").collect().map(_.getString(0)).toSet
    val indexIds = eng.liveIndex.select("id").distinct().collect()
      .map(_.getString(0)).toSet
    assert(indexIds.nonEmpty && indexIds.subsetOf(vecIds),
      s"${(indexIds diff vecIds).size} index ids name no stored vector")
    val queries = emb.limit(4).select(col("id").as("query_id"), col("embedding"))
    val (got, want) = exhaustiveVsExact(eng, queries, k = 5)
    assert(got == want)
  }

  /** Per-phase record of the Spark jobs started (their stage names) and
    * the shuffle bytes their tasks wrote; a phase is a block run under
    * [[PhaseLog.phase]]. */
  private final class PhaseLog extends SparkListener {
    private val key = "graft.test.phase"
    private val sc = spark.sparkContext
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val shuffled = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(key))).foreach { ph =>
        jobs.add((ph, j.stageInfos.map(_.name)))
        j.stageInfos.foreach(st => stagePhase.put(st.stageId, ph))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      for (ph <- Option(stagePhase.get(t.stageId)); m <- Option(t.taskMetrics))
        shuffled.merge(ph, m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
    def phase[T](name: String)(body: => T): T = {
      sc.setLocalProperty(key, name)
      try body finally sc.setLocalProperty(key, null)
    }
    /** Waits for the events of every job started before the call: listener
      * events arrive in order, so once a marker job is seen, every earlier
      * job's events have been delivered. */
    def drain(): Unit = {
      phase("marker")(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 30000L
      while (jobCount("marker") == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    }
    def jobCount(ph: String): Int = jobs.asScala.count(_._1 == ph)
    /** Schema-inference jobs: their stage is named after the
      * DataFrameReader call ("parquet at ..."). */
    def inferenceJobs(ph: String): Int =
      jobs.asScala.filter(_._1 == ph).flatMap(_._2).count(_.startsWith("parquet at"))
    def shuffleBytes(ph: String): Long =
      Option(shuffled.get(ph)).map(_.longValue).getOrElse(0L)
  }

  private def withPhaseLog[T](body: PhaseLog => T): T = {
    val log = new PhaseLog
    spark.sparkContext.addSparkListener(log)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  /** `rows` as a driver-local frame of `emb`'s schema: writing it reads no
    * cached or limited plan, so only the engine's own jobs run. */
  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, emb.schema)

  test("a second lookup on one engine builds without schema inference") {
    val eng = freshEngine()
    eng.insertRecords(emb)
    eng.refreshIndex()
    val q = emb.limit(1).select(lit(0L).as("query_id"), col("embedding"))
      .collect()
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(q: _*), q.head.schema)
    withPhaseLog { log =>
      val opened = ZebraEngine.open(spark, enginePath)
      log.phase("first")(opened.queryVectors(queries, k = 10))
      val second = log.phase("second")(opened.queryVectors(queries, k = 10))
      log.drain()
      assert(log.inferenceJobs("first") >= 1,
        "a fresh engine instance infers its tables' schemas once")
      assert(log.inferenceJobs("second") == 0)
      assert(second.collect().length == 10)
    }
  }

  test("an LSH insert on an indexed engine runs 2 Spark jobs and shuffles nothing") {
    val eng = freshEngine()
    val rows = emb.orderBy("id").collect().toSeq
    eng.insertRecords(local(rows.take(400)))
    eng.refreshIndex()
    withPhaseLog { log =>
      log.phase("insert")(eng.insertRecords(local(rows.drop(400))))
      log.drain()
      // write the vectors; then read them back, route and append
      assert(log.jobCount("insert") == 2)
      assert(log.shuffleBytes("insert") == 0L)
    }
    assert(eng.count() == 500)
    assert(spark.read.parquet(s"$enginePath/index").count() ==
      500L * eng.config.numTrees)
    val queries = local(rows.slice(395, 405))
      .select(col("id").as("query_id"), col("embedding"))
    val (got, want) = exhaustiveVsExact(eng, queries, k = 5)
    assert(got == want)
  }

  test("insert stats come from the write: count and seq order hold across batches") {
    val eng = freshEngine()
    val rows = emb.orderBy("id").collect().toSeq
    eng.insertRecords(local(rows.take(100)))
    eng.refreshIndex()
    assert(eng.count() == 100) // primes the count cache the inserts advance
    def seqs(ids: Seq[Row]): Seq[Long] = eng.vectors
      .filter(col("id").isin(ids.map(_.getString(0)): _*))
      .select("seq").collect().map(_.getLong(0)).toSeq
    var lastMax = seqs(rows.take(100)).max
    val batches = Seq(rows.slice(100, 250), Nil, rows.slice(250, 251), Nil,
      rows.slice(251, 500))
    batches.foreach { batch =>
      eng.insertRecords(local(batch))
      assert(eng.count() == spark.read.parquet(s"$enginePath/vectors").count())
      if (batch.nonEmpty) {
        val got = seqs(batch)
        assert(got.size == batch.size && got.min > lastMax,
          s"a batch's seqs must lie above every earlier batch's ($lastMax)")
        lastMax = got.max
      }
    }
    assert(eng.count() == 500)
    val queries = local(rows.slice(240, 260))
      .select(col("id").as("query_id"), col("embedding"))
    val (got, want) = exhaustiveVsExact(eng, queries, k = 5)
    assert(got == want)
  }

  test("a rewrite hands the next read its schema: no inference after remove, deduplicate or vacuum") {
    val eng = freshEngine()
    eng.insertRecords(emb)
    eng.refreshIndex()
    eng.insertRecords(emb.filter(col("id") < "v000020")
      .select(concat(lit("dup_"), col("id")).as("id"), col("embedding")))
    eng.compactIndexIfNeeded()
    withPhaseLog { log =>
      log.phase("remove")(eng.remove(emb.filter(col("id") >= "v000497").select("id")))
      log.phase("after remove")(eng.vectors.count())
      log.phase("dedup")(eng.deduplicate())
      log.phase("after dedup")((eng.vectors.count(), eng.liveIndex.count()))
      log.phase("vacuum")(eng.vacuumIndex())
      log.phase("after vacuum")(eng.liveIndex.count())
      log.drain()
      Seq("remove", "after remove", "dedup", "after dedup", "vacuum", "after vacuum")
        .foreach(ph => assert(log.inferenceJobs(ph) == 0, s"schema inferred in $ph"))
    }
    // the handed-on schema reads the same as one inferred from the files
    assert(eng.vectors.schema == spark.read.parquet(s"$enginePath/vectors").schema)
    // (liveIndex's semi join puts its join keys first)
    assert(eng.liveIndex.schema.fields.sortBy(_.name).toSeq ==
      spark.read.parquet(s"$enginePath/index").schema.fields.sortBy(_.name).toSeq)
    assert(eng.count() == 497)
    val queries = emb.limit(5).select(col("id").as("query_id"), col("embedding"))
    val (got, want) = exhaustiveVsExact(eng, queries, k = 5)
    assert(got == want)
  }

  test("an engine dir in the old tree_id= index layout is flattened on open, queries exactly and takes an insert") {
    val eng = freshEngine()
    val rows = emb.orderBy("id").collect().toSeq
    eng.insertRecords(local(rows.take(400)))
    eng.refreshIndex()
    // rewrite the bucket table the way earlier versions stored it: one
    // directory per tree
    val index = s"$enginePath/index"
    val legacy = s"$enginePath/legacy_index"
    spark.read.parquet(index).repartition(col("tree_id"))
      .write.partitionBy("tree_id").parquet(legacy)
    ZebraEngine.destroy(index)
    assert(new java.io.File(legacy).renameTo(new java.io.File(index)))
    def legacyDirs: Int =
      new java.io.File(index).list().count(_.startsWith("tree_id="))
    assert(legacyDirs == eng.config.numTrees)

    val opened = ZebraEngine.open(spark, enginePath)
    assert(legacyDirs == 0, "open must rewrite the old layout flat")
    val queries = local(rows.slice(390, 410))
      .select(col("id").as("query_id"), col("embedding"))
    val (got0, want0) = exhaustiveVsExact(opened, queries, k = 5)
    assert(got0 == want0)
    opened.insertRecords(local(rows.drop(400)))
    assert(legacyDirs == 0)
    assert(opened.count() == 500)
    assert(spark.read.parquet(index).count() == 500L * opened.config.numTrees)
    val (got, want) = exhaustiveVsExact(opened, queries, k = 5)
    assert(got == want)
  }

  test("the read-schema cache follows remove, deduplicate, clear and refresh") {
    val eng = freshEngine()
    eng.insertRecords(emb.limit(400))
    eng.refreshIndex()
    val queries = emb.limit(4).select(col("id").as("query_id"), col("embedding"))
    def check(when: String): Unit = {
      val (got, want) = exhaustiveVsExact(eng, queries, k = 5)
      assert(got == want, s"indexed answer differs from exact after $when")
    }
    check("refreshIndex")
    eng.remove(emb.limit(2).select("id"))
    check("remove")
    eng.insertRecords(emb.limit(30)
      .select(concat(lit("dup_"), col("id")).as("id"), col("embedding")))
    eng.deduplicate()
    assert(eng.count() == 398 + 2)
    check("deduplicate")
    // a re-insert after clear() may store a DIFFERENT embedding type (the
    // exact path takes doubles): reads must see the new table's schema
    eng.clear()
    eng.insertRecords(emb.select(col("id"),
      col("embedding").cast("array<double>").as("embedding")))
    assert(eng.vectors.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true))
    assert(eng.count() == 500)
    check("clear and a re-insert of another type")
    eng.clear()
    eng.insertRecords(emb)
    eng.refreshIndex()
    assert(eng.vectors.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    check("clear, re-insert and refreshIndex")
  }

  test("remove and deduplicate keep the count cache: count() runs no job after either") {
    val eng = freshEngine()
    eng.insertRecords(emb)
    eng.refreshIndex()
    eng.insertRecords(emb.filter(col("id") < "v000020")
      .select(concat(lit("dup_"), col("id")).as("id"), col("embedding")))
    def stored(): Long = spark.read.parquet(s"$enginePath/vectors").count()
    withPhaseLog { log =>
      eng.remove(emb.filter(col("id") >= "v000497").select("id"))
      val afterRemove = log.phase("count after remove")(eng.count())
      assert(afterRemove == stored() && afterRemove == 517)
      eng.deduplicate()
      val afterDedup = log.phase("count after dedup")(eng.count())
      assert(afterDedup == stored() && afterDedup == 497)
      log.drain()
      assert(log.jobCount("count after remove") == 0)
      assert(log.jobCount("count after dedup") == 0)
    }
  }

  /** Pins a one-query lookup of stored vector `id`, built a second time
    * (the first reads the tables' schemas): no job to build it, at most 5
    * in its action, and `id` among its hits. */
  private def pinLookup(eng: ZebraEngine, id: String): Unit = {
    val q = eng.vectors.filter(col("id") === id)
      .select(lit(0L).as("query_id"), col("embedding")).collect()
    def lookup(): DataFrame = eng.queryVectors(
      spark.createDataFrame(java.util.Arrays.asList(q: _*), q.head.schema), k = 10)
    lookup().collect()
    withPhaseLog { log =>
      val df = log.phase("build")(lookup())
      val got = log.phase("action")(df.collect())
      log.drain()
      assert(log.jobCount("build") == 0)
      assert(log.jobCount("action") <= 5, s"${log.jobCount("action")} jobs")
      assert(got.length == 10 && got.exists(_.getAs[String]("id") == id))
    }
  }

  test("an indexed lookup builds with no job and runs at most 5 in its action, below and above the build-sample cap") {
    val eng = freshEngine()
    eng.insertRecords(emb)
    eng.refreshIndex()
    pinLookup(eng, "v000001")
    // 1024-d rows cap the build sample at 4,096, so no build-sample
    // figure bounds this engine's pairs: only its live count does
    val dim = 1024
    val path = SparkTestBase.tmpDir("test_engine_capped")
    ZebraEngine.destroy(path)
    val capped = ZebraEngine.create(spark, path, EngineConfig(dim = dim))
    val gauss = udf { (i: Long) =>
      val r = new scala.util.Random(i)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    capped.insertRecords(spark.range(0L, 4200L, 1L, 4)
      .select(format_string("r%05d", col("id")).as("id"), gauss(col("id")).as("embedding")))
    capped.refreshIndex()
    assert(capped.loadModel[LshForest.ForestModel].get.sampleTotal == LshForest.byteBoundedCap(65536, dim))
    pinLookup(capped, "r00007")
    ZebraEngine.destroy(path)
  }

  test("LshForest.candidates on a 150-query batch runs 4 jobs: no probe checkpoint, no leaf collect") {
    val rows = emb.orderBy("id").collect().toSeq
    val vecs = local(rows)
    val model = LshForest.build(vecs, vecId = "id")
    val dir = SparkTestBase.tmpDir("test_candidates_index")
    LshForest.writeIndex(vecs, model, dir, vecId = "id")
    val buckets = spark.read.parquet(dir)
    val batch = local(rows.take(150)).select(col("id").as("query_id"), col("embedding"))
    withPhaseLog { log =>
      val pairs = log.phase("candidates")(
        LshForest.candidates(batch, buckets, model, searchK = 150, vecId = "id").count())
      log.drain()
      assert(pairs >= 150L * 10)
      assert(log.jobCount("candidates") == 4, s"${log.jobCount("candidates")} jobs")
    }
  }

  test("after inserts grow the leaves, the bound a lookup plans with covers every probed pair") {
    val eng = freshEngine()
    val rows = emb.orderBy("id").collect().toSeq
    eng.insertRecords(local(rows.take(100))) // the build sample is the corpus
    eng.refreshIndex()
    // 1,000 vectors in one tight cluster around a stored one: they pile
    // into the leaves its lookup probes, which the model never sees
    val centre = rows.head.getSeq[Float](1).toArray
    val rnd = new scala.util.Random(7)
    eng.insertRecords(local((0 until 1000).map(i => Row(f"c$i%05d",
      centre.map(x => x + 1e-3f * rnd.nextGaussian().toFloat).toSeq))))
    val model = eng.loadModel[LshForest.ForestModel].get
    val searchK = LshForest.defaultSearchK(10, model)
    val q = Seq[(Any, Array[Double])]((0L, centre.map(_.toDouble)))
    val (probes, bound) = LshForest.routeOnDriver(q, model, searchK, Some(eng.count()))
    import spark.implicits._
    val probed = probes.map(r => (r.getInt(1), r.getInt(2))).toDF("tree_id", "leaf_id")
    val pairs = spark.read.parquet(s"$enginePath/index")
      .join(probed, Seq("tree_id", "leaf_id")).count()
    assert(bound >= pairs, s"bound $bound < $pairs probed pairs")
    // the build-sample occupancy, which the broadcast plan once trusted,
    // undercounts here
    val (_, occupancy) = LshForest.routeOnDriver(q, model, searchK, None)
    assert(occupancy < pairs, s"occupancy $occupancy >= $pairs probed pairs")
  }
}
