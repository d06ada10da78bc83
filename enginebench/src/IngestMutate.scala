package enginebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{EngineConfig, ZebraEngine}
import graft.functions.Distances
import graft.index.LshForest
import graft.ops.SimSearch

/** `ingest_mutate`: reads beside writes on a 64-d LSH engine built on a
  * corpus below the forest's 64-d build-sample cap, so its sample is exact.
  * One client, closed loop, repeating cycles of: inserts through the
  * existing index (each with planted bit-exact duplicates under new ids)
  * with point lookups after each, one query batch above the forest's
  * small-batch cap, then remove, deduplicate, compactIndexIfNeeded and
  * vacuumIndex. Each cycle's new vectors come from a fresh tight cluster,
  * so they pile into few leaves and compaction has real work. A ledger of
  * live ids checks the engine after every cycle. The timed phase is a
  * fixed number of cycles, so every run makes the same calls. */
object IngestMutate {
  val Dim = 64
  /** The forest's build-sample cap at 64-d. */
  val SampleCap = 65536
  val InitialRows = 4000
  val Clusters = 32
  val Spread = 0.6
  /** Spread of a cycle's new cluster. */
  val DriftSpread = 0.15
  val K = 10
  val NewPerInsert = 950
  val DupsPerInsert = 50
  /** Five inserts: the traced run's traced/untraced pattern puts the
    * slower first insert after a compaction among three traced ones, so
    * the traced median skips it. */
  val InsertsPerCycle = 5
  val LookupsPerInsert = 3
  /** Lookups of the warm-up round. */
  val WarmupLookups = 3
  /** Queries of one batch lookup: above LshForest.SmallBatchCap (128), so
    * the batch takes the distributed probe path. */
  val BatchQueries = 160
  val RemovePerCycle = 200
  /** One timed cycle per this many seconds of --seconds; a cycle takes
    * about 40 s on a 4-CPU VM. */
  val CycleSeconds = 30
  /** Queries of the traced run's direct index-layer calls. */
  val ProbeQueries = 128
  /** The engine's default per-tree probe budget: k · numTrees. */
  val SearchK = K * 15
  private val NewBase = 1L << 40
  private val ProbeBase = 1L << 41
  private val BatchBase = 1L << 42
  /** Generator indices of one cycle's new vectors. */
  private val CycleSpan = 1L << 20

  def run(spark: SparkSession, s: Settings, rec: Recorder, t0: Long): Outcome = {
    import spark.implicits._
    val seed = s.seed
    val centres = Gen.centres(seed, Clusters, Dim)
    /** Embedding of generator index g: the initial corpus below NewBase,
      * else a point of the new cluster of cycle (g - NewBase) / CycleSpan. */
    def emb(g: Long): Array[Float] =
      if (g < NewBase) Gen.point(seed, g, centres, Spread)
      else {
        val c = (g - NewBase) / CycleSpan
        Gen.point(seed, g, Gen.centres(seed + 7919L * (c + 1), 1, Dim), DriftSpread)
      }

    val dir = s"${s.scratch}/engine"
    val engine = ZebraEngine.create(spark, dir, EngineConfig(dim = Dim))
    val genUdf = udf((i: Long) => Gen.point(seed, i, centres, Spread))
    val corpus = spark.range(0L, InitialRows.toLong, 1L, s.cores)
      .select(format_string("i%07d", col("id")).as("id"), genUdf(col("id")).as("embedding"))
    val (_, ingestMs) = Layer.timeMs(engine.insertRecords(corpus))
    val (_, buildMs) = Layer.timeMs(engine.refreshIndex())
    val setupS = (System.nanoTime() - t0) / 1e9

    // ledger: live id -> (generator index, insertion order)
    val ledger = mutable.LinkedHashMap.empty[String, (Long, Long)]
    (0 until InitialRows).foreach(i => ledger(f"i$i%07d") = (i.toLong, 0L))
    val rnd = Gen.rng(seed, -1L)
    var nextNew = NewBase
    var nextId = 0L
    var batchNo = 0L
    var queryBatches = 0L
    var scoreMs = 0.0
    var recallHits = 0
    var recallTotal = 0
    var compactions = 0
    var staleRows = -1L
    val maintainMs = mutable.ArrayBuffer.empty[Double]

    def frame(rows: Seq[(String, Array[Float])]): DataFrame = rows.toDF("id", "embedding")
    /** Answered queries: (query id, query vector, ids found). Lookups are
      * keyed by their generator index (at least NewBase), batch queries by
      * their position in the batch. */
    type Found = Seq[(Long, Array[Float], Set[String])]

    /** One single-query lookup; returns the ids it found. */
    def lookup(kind: String, id: String, g: Long): Option[Set[String]] = {
      val q = Seq((0L, emb(g)))
      rec.call(kind) {
        val df = rec.phase("build")(engine.queryVectors(q.toDF("query_id", "embedding"), K))
        rec.phase("exec")(df.collect())
      } { rows =>
        answer(rows, 1).left.toOption.orElse(
          if (!rows.exists(r => r.getDouble(2) == 0.0)) Some(s"lookup missed its own vector $id")
          else None)
      }.map(_.map(_.getString(1)).toSet)
    }

    /** One batch of BatchQueries queries drawn like the initial corpus. */
    def batch(kind: String): Found = {
      val qs = Seq.tabulate(BatchQueries) { j =>
        (j.toLong, Gen.point(seed, BatchBase + queryBatches * BatchQueries + j, centres, Spread))
      }
      queryBatches += 1
      rec.call(kind)(engine.queryVectors(qs.toDF("query_id", "embedding"), K).collect()) { rows =>
        answer(rows, BatchQueries).left.toOption
      }.flatMap(rows => answer(rows, BatchQueries).toOption)
        .map(found => qs.map { case (q, v) => (q, v, found(q)) }).getOrElse(Nil)
    }

    /** recall@K of answered queries against brute force over the corpus
      * they ran on, which must be the current one (untimed). */
    def score(found: Found): Unit = if (found.nonEmpty) scoreMs += Layer.timeMs {
      val truth = SimSearch.exactTopK(found.map(f => (f._1, f._2)).toDF("query_id", "embedding"),
        engine.vectors, K, metric = Distances.L2Squared, vecId = "id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }
      found.foreach { case (q, _, got) =>
        recallHits += (got intersect truth.getOrElse(q, Set.empty)).size
        recallTotal += K
      }
    }._2

    /** The ids per query of a k-NN answer, or why it is wrong. */
    def answer(rows: Array[org.apache.spark.sql.Row], queries: Int): Either[String, Map[Long, Set[String]]] = {
      val byQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getString(1)) }
      if (byQuery.size != queries) Left(s"answer covers ${byQuery.size} queries, want $queries")
      else if (byQuery.values.exists(_.length != K)) Left(s"a query got other than $K rows")
      else if (byQuery.values.exists(ids => ids.distinct.length != K)) Left("a query got a duplicate id")
      else if (!rows.forall(r => ledger.contains(r.getString(1)))) Left("an answer holds an id that is not live")
      else Right(byQuery.map { case (q, ids) => q -> ids.toSet })
    }

    /** One insert and the lookups after it; returns the lookups' answers. */
    def insertRound(prefix: String, lookups: Int): Found = {
      batchNo += 1
      val fresh = Seq.fill(NewPerInsert) { nextNew += 1; nextNew - 1 }
      // bit-exact duplicates of vectors inserted by earlier batches
      val older = ledger.iterator.filter(_._2._2 < batchNo).map(_._2._1).toIndexedSeq
      val dupOf = Iterator.continually(older(rnd.nextInt(older.size))).distinct.take(DupsPerInsert).toSeq
      val rows = (fresh ++ dupOf).map { g => nextId += 1; (f"n$nextId%07d", g) }
      val df = frame(rows.map { case (id, g) => (id, emb(g)) })
      rec.call(prefix + "insert")(engine.insertRecords(df)) { _ =>
        rows.foreach { case (id, g) => ledger(id) = (g, batchNo) }
        val n = engine.count()
        if (n != ledger.size) Some(s"count $n after insert, ledger holds ${ledger.size}") else None
      }
      (0 until lookups).map(j => rows(j * (NewPerInsert / lookups))).flatMap { case (id, g) =>
        lookup(prefix + "lookup", id, g).map(found => (g, emb(g), found))
      }
    }

    def maintain(prefix: String, first: Boolean): Unit = {
      var ms = 0.0
      val live = ledger.keys.toIndexedSeq
      val gone = Iterator.continually(live(rnd.nextInt(live.size))).distinct.take(RemovePerCycle).toSeq
      rec.call(prefix + "remove")(engine.remove(gone.toDF("id")))(_ => None)
      ms += rec.lastMs
      gone.foreach(ledger.remove)
      rec.call(prefix + "dedup")(engine.deduplicate())(_ => None)
      ms += rec.lastMs
      // first-inserted copy of each vector survives
      ledger.groupBy(_._2._1).foreach { case (_, copies) =>
        if (copies.size > 1) copies.toSeq.sortBy(c => (c._2._2, c._1)).drop(1).foreach(c => ledger.remove(c._1))
      }
      rec.call(prefix + "compact")(engine.compactIndexIfNeeded())(_ => None)
        .foreach(did => if (did) compactions += 1)
      ms += rec.lastMs
      if (first && s.trace) {
        staleRows = spark.read.parquet(s"$dir/index").count() - engine.liveIndex.count()
      }
      rec.call(prefix + "vacuum")(engine.vacuumIndex())(_ => None)
      ms += rec.lastMs
      if (prefix.isEmpty) maintainMs += ms
      rec.call(prefix + "verify") {
        (engine.count(), engine.vectors.select("id").as[String].collect().toSet)
      } { case (n, ids) =>
        if (n != ledger.size) Some(s"count $n, ledger holds ${ledger.size}")
        else if (ids != ledger.keySet) Some(s"id set differs from the ledger in ${(ids diff ledger.keySet).size + (ledger.keySet diff ids).size} ids")
        else None
      }
    }

    // untimed warm-up of the insert, lookup and maintenance calls (cycle 0);
    // the batch, a per-layer figure, ran as fast cold as warm
    val warm0 = System.nanoTime()
    insertRound("warmup.", WarmupLookups)
    maintain("warmup.", first = false)

    // a fixed number of whole cycles, so that every run, on any host and
    // any version of the program, makes the same calls
    val cycles = math.max(1, math.round(s.seconds.toDouble / CycleSeconds).toInt)
    val timed0 = System.nanoTime()
    (1 to cycles).foreach { c =>
      nextNew = NewBase + c * CycleSpan
      val lastRound = (1 to InsertsPerCycle).map(_ => insertRound("", LookupsPerInsert)).last
      // the last round's lookups and the batch ran on the current corpus;
      // earlier lookups are checked for their own vector only
      score(lastRound ++ batch("batch"))
      maintain("", first = c == 1)
    }
    val timedS = (System.nanoTime() - timed0) / 1e9
    val live = ledger.size
    val spaceAmp = Layer.dirBytes(new java.io.File(dir)).toDouble / (live.toDouble * Dim * 4)
    val recall = if (recallTotal == 0) 0.0 else recallHits.toDouble / recallTotal

    val perInsert = NewPerInsert + DupsPerInsert
    val e2e = Layer.endToEnd(rec, setupS, recall, "lookup", "insert", perInsert)
    val layer =
      if (!s.trace) Map.empty[String, Double]
      else {
        val (qbJobs, qbMs) = Layer.phase(rec, "lookup", "build")
        val (qeJobs, qeMs) = Layer.phase(rec, "lookup", "exec")
        val ins = Layer.first(rec, "insert")
        def opMs(kind: String) = Layer.med(Layer.first(rec, kind))(_.wallMs)
        def opJobs(kind: String) = Layer.med(Layer.first(rec, kind))(_.total.jobs.toDouble)
        val rewritten = Seq("remove", "dedup", "compact", "vacuum")
          .map(k => Layer.med(Layer.first(rec, k))(_.total.bytesWritten.toDouble)).sum
        // direct calls into the index and rerank layers on the final corpus
        val vectors = engine.vectors
        val bq = Seq.tabulate(ProbeQueries)(j => (j.toLong, Gen.point(seed, ProbeBase + j, centres, Spread)))
          .toDF("query_id", "embedding")
        val (model, indexBuildMs) = Layer.timeMs(
          LshForest.build(vectors, LshForest.Options(15, 5, 42L), vecId = "id"))
        val copy = s"${s.scratch}/index_copy"
        val (_, indexWriteMs) = Layer.timeMs(LshForest.writeIndex(vectors, model, copy, vecId = "id"))
        val (routed, routeMs) = Layer.timeMs(LshForest.routeQueries(bq, model, SearchK).count())
        val pairs = LshForest.candidates(bq, spark.read.parquet(copy), model, SearchK, vecId = "id").count()
        val (_, exactMs) = Layer.timeMs(SimSearch.exactTopK(bq, vectors, K,
          metric = Distances.L2Squared, vecId = "id").collect())
        Map(
          "index.leaves_per_query" -> routed.toDouble / ProbeQueries,
          "index.candidates_per_result" -> pairs.toDouble / (ProbeQueries * K),
          "index.route_ms_per_kquery" -> routeMs / (ProbeQueries / 1000.0),
          "index.build_ms" -> indexBuildMs,
          "index.write_ms" -> indexWriteMs,
          "rerank.ns_per_dist" -> exactMs * 1e6 / (ProbeQueries.toDouble * live),
          "engine.query.build_ms" -> qbMs,
          "engine.query.build_jobs" -> qbJobs,
          "engine.query.exec_ms" -> qeMs,
          "engine.query.exec_jobs" -> qeJobs,
          "engine.batch.qps" -> Layer.rate(rec.times("batch"), BatchQueries),
          "engine.insert.ms_per_kvec" -> Layer.med(ins)(_.wallMs) * 1000.0 / perInsert,
          "engine.insert.jobs" -> Layer.med(ins)(_.total.jobs.toDouble),
          "engine.insert.bytes_written" -> Layer.med(ins)(_.total.bytesWritten.toDouble),
          "engine.remove.ms" -> opMs("remove"), "engine.remove.jobs" -> opJobs("remove"),
          "engine.dedup.ms" -> opMs("dedup"), "engine.dedup.jobs" -> opJobs("dedup"),
          "engine.compact.ms" -> opMs("compact"), "engine.compact.jobs" -> opJobs("compact"),
          "engine.vacuum.ms" -> opMs("vacuum"), "engine.vacuum.jobs" -> opJobs("vacuum"),
          "engine.bytes_rewritten" -> rewritten,
          "engine.index.stale_rows" -> staleRows.toDouble,
          "engine.maintain_s" -> Stats.median(maintainMs) / 1000.0,
          "engine.space_amp" -> spaceAmp,
          "engine.setup.ingest_s" -> ingestMs / 1000.0,
          "engine.setup.build_s" -> buildMs / 1000.0) ++
          Layer.spark(rec, "lookup", "op") ++ Layer.spark(rec, "insert", "bulk") ++
          Layer.overhead(rec, "lookup", "insert", perInsert)
      }
    Outcome(e2e, layer, Map(
      "initial_rows" -> InitialRows, "dim" -> Dim, "sample_cap" -> SampleCap,
      "live_rows" -> live, "cycles" -> cycles, "compactions" -> compactions,
      "batch_qps" -> Layer.rate(rec.times("batch"), BatchQueries),
      "maintain_ms" -> maintainMs, "space_amp" -> spaceAmp,
      "ingest_ms" -> ingestMs, "build_ms" -> buildMs, "warmup_s" -> (timed0 - warm0) / 1e9,
      "timed_s" -> timedS, "score_ms" -> scoreMs))
  }
}
