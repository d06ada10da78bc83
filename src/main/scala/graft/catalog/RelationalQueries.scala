package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.core.Tables

/** Relational surface (SURVEY.md §2.6): scan/filter/project, group-by
  * aggregation, multi-way joins with broadcast dims, ranking windows,
  * event-time bucketing, sort/limit. These double as the bench headliners —
  * each is shaped the way it should run at 100 TB (filters pushed to the
  * scan, small dimensions broadcast, partial aggregation before shuffle).
  */
object RelationalQueries {

  /** TPC-H Q1-shaped pricing summary: map-side partial agg → 6-group final. */
  val q1Agg = Q(
    "q1_agg",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Star join: lineitem ⋈ orders ⋈ customer ⋈ nation, dims broadcast.
    * Revenue per nation — the canonical fact-to-dim join shape. */
  val joinRevenue = Q(
    "q_join_revenue_by_nation",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""))

  /** Ranking window: top-3 orders per customer by totalprice. */
  val topOrders = Q(
    "q_window_top_orders",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("totalprice"), col("rk"))
        .orderBy("o_custkey", "rk")
    },
    Some("""
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders)
      WHERE rk <= 3
      ORDER BY o_custkey, rk"""))

  /** Event-time bucketing: hourly tumbling aggregation over the events
    * table — the batch twin of the Structured Streaming ingest path
    * (graft.streaming). */
  val eventsHourly = Q(
    "q_events_hourly",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 4).as("sum_value"))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket", "event_type")
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY bucket, event_type"""))

  /** Sort/limit (TakeOrderedAndProject): global top-25 lineitems. */
  val topK = Q(
    "q_top_lineitems",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
    },
    Some("""
      SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
      FROM lineitem
      ORDER BY price DESC, l_orderkey, l_linenumber
      LIMIT 25"""))

  /** Per-GROUP bounded top-k via the TopKAgg aggregator — the scale-safe
    * replacement for the ranking-window form when groups are large: the
    * buffer runs map-side (each partition ships <= k rows per group to the
    * shuffle) where `row_number() OVER (PARTITION BY ...)` sorts every
    * group's full row set. The oracle IS the window form, so the hash gate
    * proves the two equivalent; ties break on id in both. */
  val topkPerGroup = Q(
    "q_topk_per_group",
    (s, dir) => {
      val l = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("rf"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("price_c"))
      l.groupBy("rf")
        .agg(graft.ops.TopK.topk[Long](3,
          -col("price_c").cast("double"), col("id")).as("t"))
        .select(col("rf"), posexplode(col("t")))
        .select(col("rf"), col("col.id").as("id"),
          (-col("col.dist")).cast("long").as("price_c"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("rf", "rk")
    },
    Some("""
      WITH l AS (SELECT l_returnflag AS rf,
                        l_orderkey * 10 + l_linenumber AS id,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
                 FROM lineitem)
      SELECT rf, id, price_c, rk FROM (
        SELECT rf, id, price_c,
               row_number() OVER (PARTITION BY rf
                                  ORDER BY price_c DESC, id)::BIGINT AS rk
        FROM l)
      WHERE rk <= 3 ORDER BY rf, rk"""))

  /** Set operations (the reference has none — §2.6): customers appearing
    * in BOTH the BUILDING segment and the high-balance set (INTERSECT),
    * and high-balance customers NOT in BUILDING (EXCEPT), tagged and
    * unioned into one deterministic relation. Both planned as hash
    * left-semi/anti joins — no sort-based set operator, no full-table
    * distinct-sort. */
  val setOps = Q(
    "q_set_ops",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val rich = c.filter(col("c_acctbal") > 7000).select("c_custkey")
      building.intersect(rich).withColumn("tag", lit("both"))
        .unionByName(rich.except(building).withColumn("tag", lit("rich_only")))
        .orderBy("tag", "c_custkey")
    },
    Some("""
      SELECT c_custkey, 'both' AS tag FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 7000)
      UNION ALL
      SELECT c_custkey, 'rich_only' FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 7000
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY tag, c_custkey"""))

  /** The Structured Streaming transform (graft.streaming.StreamOps
    * .hourlyEventStats) executed on the batch events table — the unified
    * DataFrame API means the STREAMING plan itself is what gets
    * oracle-checked here (StreamingSpec proves stream/batch parity on an
    * in-memory stream). */
  val eventsHourlyStream = Q(
    "q_events_hourly_stream",
    (s, dir) => {
      graft.streaming.StreamOps.hourlyEventStats(Tables.events(s, dir))
        .select(
          date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n_events"), col("value_sum"))
        .orderBy("hour_start", "event_type")
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, count(*) AS n_events, round(sum(value), 4) AS value_sum
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start, event_type"""))

  /** A REAL micro-batch streaming execution in the correctness gate: the
    * events table is replayed through an in-memory stream in 4 chunks, each
    * chunk a separate micro-batch incrementally updating the windowed-agg
    * state, and the complete-mode memory sink's final table is
    * hash-checked against the same DuckDB oracle as the batch twin
    * (q_events_hourly_stream checks the PLAN, this checks the streaming
    * RUNTIME — state store, micro-batch scheduling, sink commit). The
    * driver-side collect/replay is the test harness, not the production
    * path (that is readStream on files/queues); state is bounded by
    * hours x event types regardless of input size. */
  val eventsHourlyStreamExec = Q(
    "stream_hourly_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
        .as[(java.sql.Timestamp, String, Double)], "stream_hourly_exec")
      val run = StreamFeed.replay(s, "stream_hourly_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        graft.streaming.StreamOps
          .hourlyEventStats(in.toDF("ts", "event_type", "value"))
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("complete").start()
      }
      s.table(run.sink)
        .select(
          date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n_events"), col("value_sum"))
        .orderBy("hour_start", "event_type")
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, count(*) AS n_events, round(sum(value), 4) AS value_sum
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start, event_type"""))

  /** Gap-based sessionization (30-min inactivity): lag + running sum —
    * the classic event-pipeline shape (shuffles once by user_id, exactly
    * what a 100 TB sessionize does). Arithmetic on epoch micros keeps the
    * two engines bit-identical (events carry no sub-µs precision). */
  val eventsSessions = Q(
    "q_events_sessions",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val prev = lag("us", 1).over(w)
      val g = e
        .withColumn("new_sess",
          when(prev.isNull || col("us") - prev > 1800000000L, 1).otherwise(0))
        .withColumn("sess_id", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // duration to 4 decimals via integer truncation to 100µs units —
      // round() would flake on half-boundary cases (HALF_UP vs HALF_EVEN).
      g.groupBy("user_id", "sess_id")
        .agg(
          count(lit(1)).as("n_events"),
          max("us").as("mx"), min("us").as("mn"))
        .withColumn("duration_sec", expr("(mx - mn) div 100") / 10000.0)
        .select("user_id", "sess_id", "n_events", "duration_sec")
        .orderBy("user_id", "sess_id")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      s AS (SELECT user_id, event_id, us,
              CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      g AS (SELECT user_id, us,
              sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM s)
      SELECT user_id, sess_id::BIGINT AS sess_id, count(*) AS n_events,
             ((max(us) - min(us)) // 100) / 10000.0 AS duration_sec
      FROM g GROUP BY user_id, g.sess_id
      ORDER BY user_id, sess_id"""))

  /** The same sessionization through the native `session_window` operator
    * (StreamOps.sessionize — identical plan on batch and stream, which
    * StreamingSpec proves on an in-memory stream). The oracle rebuilds gap
    * sessions with the lag/cumsum construction; strictly `>` on the gap
    * mirrors session_window's INCLUSIVE merge (windows [t, t+gap] merge
    * when the next start <= the previous end, so an event exactly gap
    * later stays in the session — gated by StreamingSpec's planted
    * boundary test). One shuffle by user_id, state merges incrementally
    * under a watermark on a stream — the 100 TB/continuous form of
    * q_events_sessions. */
  val eventsSessionsNative = Q(
    "q_events_sessions_native",
    (s, dir) =>
      graft.streaming.StreamOps.sessionize(Tables.events(s, dir))
        .orderBy("user_id", "sess_start_us"),
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      s AS (SELECT user_id, event_id, us,
              CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      g AS (SELECT user_id, us,
              sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM s)
      SELECT user_id, min(us) AS sess_start_us, count(*) AS n_events,
             ((max(us) - min(us)) // 100) / 10000.0 AS duration_sec
      FROM g GROUP BY user_id, sess_id
      ORDER BY user_id, sess_start_us"""))

  /** As-of join over the event stream: every purchase picks up the user's
    * most recent click at-or-before it ([[graft.ops.AsofJoin]] — union +
    * one window pass, one shuffle, zero joins; see the operator scaladoc
    * for why that beats a range join at 100 TB). The right side is made
    * unique per (user_id, us) with an arg-max so the carried payload is
    * deterministic; the oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, which
    * hash-gates our tie (inclusive >=) and no-match (NULL) semantics
    * against an independent implementation of the operator. */
  /** Shared body of the two as-of entries: purchases matched to the
    * user's latest prior click, through either implementation. */
  private def asofQuery(
      s: org.apache.spark.sql.SparkSession, dir: String,
      join: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
        => org.apache.spark.sql.DataFrame) = {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("us").as("click_us"))
        .agg(max("event_id").as("click_id"))
        .withColumn("us", col("click_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"),
          col("value").as("purchase_value"))
      join(purchases, clicks)
        .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
          col("purchase_value"), col("click_id"), col("click_us"),
          (col("us") - col("click_us")).as("lag_us"))
        .orderBy("event_id")
  }

  private val asofOracle = """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
                 FROM events),
      c AS (SELECT user_id, us AS click_us, max(event_id) AS click_id
            FROM e WHERE event_type = 'click' GROUP BY user_id, us),
      p AS (SELECT event_id, user_id, us, value FROM e
            WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, p.us AS purchase_us,
             p.value AS purchase_value, c.click_id, c.click_us,
             p.us - c.click_us AS lag_us
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.us >= c.click_us
      ORDER BY p.event_id"""

  val eventsAsof = Q(
    "q_events_asof",
    (s, dir) => asofQuery(s, dir,
      graft.ops.AsofJoin.asof(_, _, Seq("user_id"), "us")),
    Some(asofOracle))

  /** The same as-of query through the skew-proof time-bucketed
    * decomposition ([[graft.ops.AsofJoin.asofBucketed]] — per-(key, bin)
    * carry, per-bin last-right reduce, per-key prefix over bins,
    * co-partitioned join-back; a hot key's history splits across bins
    * instead of serializing into one window task). Same DuckDB ASOF JOIN
    * oracle: both implementations must land on the identical hash. */
  val eventsAsofBucketed = Q(
    "q_events_asof_bucketed",
    (s, dir) => asofQuery(s, dir,
      graft.ops.AsofJoin.asofBucketed(_, _, Seq("user_id"), "us",
        bucketWidth = 6L * 3600 * 1000000)),
    Some(asofOracle))

  /** Range (point-in-interval) join over the event stream: purchases
    * attributed to the signup whose one-hour window contains them
    * ([[graft.ops.RangeJoin]] — interval binning turns the BETWEEN
    * predicate into an equi-join on (user_id, bin); a raw inequality join
    * would plan as a nested loop). The oracle IS that raw inequality
    * join, run where it's safe (DuckDB at oracle scale) — an independent
    * formulation hash-gating the binned join's exactness, including the
    * inclusive boundaries at both window ends. */
  val eventsRangeJoin = Q(
    "q_events_range_join",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("us").as("win_start"), (col("us") + 3600000000L).as("win_end"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("us"))
      graft.ops.RangeJoin.pointInInterval(
        purchases, signups, Seq("user_id"),
        pt = "us", start = "win_start", end = "win_end",
        binWidth = 3600000000L)
        .select(col("signup_id"), col("purchase_id"),
          (col("us") - col("win_start")).as("delay_us"))
        .orderBy("signup_id", "purchase_id")
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
                 FROM events),
      s AS (SELECT event_id AS signup_id, user_id, us AS win_start,
                   us + 3600000000 AS win_end
            FROM e WHERE event_type = 'signup'),
      p AS (SELECT event_id AS purchase_id, user_id, us FROM e
            WHERE event_type = 'purchase')
      SELECT s.signup_id, p.purchase_id, p.us - s.win_start AS delay_us
      FROM s JOIN p ON p.user_id = s.user_id
                   AND p.us BETWEEN s.win_start AND s.win_end
      ORDER BY signup_id, purchase_id"""))

  /** TPC-H Q3-shaped shipping priority: selective filters on BOTH sides of
    * the join (segment on the dim, date range on fact + orders) — the shape
    * whose entire value at 100 TB is that every predicate reaches the
    * parquet scan (verified: PushedFilters on all three scans) before the
    * broadcast join. */
  val q3Shipping = Q(
    "q3_shipping_priority",
    (s, dir) => {
      val cutoff = "1998-06-15"
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-15'
        AND l_shipdate > TIMESTAMP '1998-06-15'
      GROUP BY l_orderkey, orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  /** Rollup with grouping indicators — multi-level aggregation in one pass
    * (partial agg handles every level map-side; no per-level rescan). */
  val rollupRevenue = Q(
    "q_rollup_returnflag",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n,
             grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag, l_linestatus"""))

  /** Distinct aggregation (expand + two-phase agg in Spark): distinct
    * parts/suppliers per return flag alongside plain aggregates — the
    * remaining §2.6 aggregation shape. */
  val distinctAgg = Q(
    "q_distinct_agg",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** HLL++ sketch distinct-count with a FALSIFIABLE accuracy oracle: the
    * sketch estimate itself is engine-specific (so it stays out of the
    * output), but the claim "within 5% of exact" is emitted as a column
    * the DuckDB twin asserts as a literal TRUE next to the exact count —
    * if the sketch ever drifts past the bound, the hash check goes red.
    * The comparison is integer arithmetic (|Δ|·20 ≤ exact). The sketch is
    * the scale path: one pass, bounded state per group, mergeable across
    * partitions — count(DISTINCT) at 100 TB is a full shuffle of the
    * distinct pairs. */
  val sketchDistinct = Q(
    "q_sketch_distinct",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          countDistinct("user_id").as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) * lit(20L) <=
            col("exact_users")).as("within_5pct"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(DISTINCT user_id) AS exact_users,
             TRUE AS within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Sketch RE-AGGREGATION — the mergeability property that makes sketches
    * the 100 TB pre-aggregation lever: per-(type, hour) HLL sketches
    * (DataSketches binary buffers) are UNIONED into per-type estimates
    * without touching raw data again — the pattern of a materialized
    * sketch table serving coarser rollups. Gated like q_sketch_distinct:
    * the merged estimate must land within 5% of exact or `within_5pct`
    * flips false and the hash breaks. n_parts witnesses that a real
    * multi-sketch merge happened (hundreds of hourly sketches per type). */
  val sketchRollup = Q(
    "q_sketch_rollup",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val fine = e
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = fine.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
          .as("approx_users"),
          count(lit(1)).as("n_parts"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_parts"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) * lit(20L) <=
            col("exact_users")).as("within_5pct"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type,
             count(DISTINCT date_trunc('hour', ts))::BIGINT AS n_parts,
             count(DISTINCT user_id)::BIGINT AS exact_users,
             TRUE AS within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** MERGE / CDC-apply ([[graft.ops.Merge.applyChanges]]): a deterministic
    * change log synthesized from `orders` (updates, deletes, a
    * delete-then-reinsert and a double-update — the last two prove
    * last-writer-wins) folded onto the base table, then rolled up so the
    * result is compact but sensitive to any mis-applied row. The oracle
    * replays the same log in SQL. */
  val mergeUpsert = Q(
    "q_merge_upsert",
    (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("price"))
      val h = col("k") % 10
      def ch(cond: org.apache.spark.sql.Column, seq: Int, op: String,
          price: org.apache.spark.sql.Column) =
        base.filter(cond).select(col("k"), lit(seq).as("seq"),
          lit(op).as("op"), col("st"), price.as("price"))
      val changes =
        ch(h.isin(0, 1), 1, "upsert", col("price") + 1000)
          .unionByName(ch(h.isin(2, 3), 1, "delete", lit(null).cast("double")))
          .unionByName(ch(h === 3, 2, "upsert", lit(42.0)))
          .unionByName(ch(h === 4, 1, "upsert", col("price") + 1))
          .unionByName(ch(h === 4, 2, "upsert", col("price") + 2))
      graft.ops.Merge.applyChanges(base, changes, key = "k")
        .groupBy(col("st"), (col("k") % 97).as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("sum_price"))
        .orderBy("st", "bucket")
    },
    Some("""
      WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                           o_totalprice AS price FROM orders),
           ch AS (
             SELECT k, 1 AS seq, 'upsert' AS op, st, price + 1000 AS price
             FROM base WHERE k % 10 IN (0, 1)
             UNION ALL SELECT k, 1, 'delete', st, NULL FROM base
             WHERE k % 10 IN (2, 3)
             UNION ALL SELECT k, 2, 'upsert', st, 42.0 FROM base WHERE k % 10 = 3
             UNION ALL SELECT k, 1, 'upsert', st, price + 1 FROM base
             WHERE k % 10 = 4
             UNION ALL SELECT k, 2, 'upsert', st, price + 2 FROM base
             WHERE k % 10 = 4),
           win AS (SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY k
                                ORDER BY seq DESC, op DESC) AS rn FROM ch)
                   WHERE rn = 1),
           final AS (
             SELECT b.k, b.st, b.price FROM base b
             WHERE b.k NOT IN (SELECT k FROM win)
             UNION ALL SELECT k, st, price FROM win WHERE op = 'upsert')
      SELECT st, k % 97 AS bucket, count(*)::BIGINT AS n,
             round(sum(price), 2) AS sum_price
      FROM final GROUP BY st, bucket ORDER BY st, bucket"""))

  /** Pivot: long → wide conditional aggregation (quantity by return flag
    * across line statuses). Spark's `pivot` with explicit values plans as
    * ONE pass of conditional aggregates — no per-value scans, no shuffle
    * beyond the group-by's. */
  val pivotQty = Q(
    "q_pivot_qty",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
               AS qty_f,
             round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
               AS qty_o
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Snapshot diff ([[graft.ops.Diff.snapshotDiff]]) composed with the
    * merge operator: apply a change log, then diff the result against the
    * base — every change class (added / removed / changed / unchanged)
    * must land exactly where the log put it. One full-outer join keyed on
    * the table key; payload equality is exact (struct compare). */
  val snapshotDiffQ = Q(
    "q_snapshot_diff",
    (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("price"))
      val h = col("k") % 7
      val changes =
        base.filter(h === 0).select(col("k"), lit(1L).as("seq"),
          lit("upsert").as("op"), col("st"), (col("price") + 1000).as("price"))
          .unionByName(base.filter(h === 1).select(col("k"), lit(1L).as("seq"),
            lit("delete").as("op"), col("st"),
            lit(null).cast("double").as("price")))
          .unionByName(base.filter(h === 2).select(
            (-col("k") - 1L).as("k"), lit(1L).as("seq"),
            lit("upsert").as("op"), col("st"), lit(42.0).as("price")))
      val merged = graft.ops.Merge.applyChanges(base, changes, key = "k")
      graft.ops.Diff.snapshotDiff(base, merged, key = Seq("k"))
        .groupBy("change_type").agg(count(lit(1)).as("n"))
        .orderBy("change_type")
    },
    Some("""
      WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                           o_totalprice AS price FROM orders),
           merged AS (
             SELECT k, st,
                    CASE WHEN k % 7 = 0 THEN price + 1000 ELSE price END
                      AS price
             FROM base WHERE k % 7 <> 1
             UNION ALL
             SELECT -k - 1, st, 42.0 FROM base WHERE k % 7 = 2),
           d AS (
             SELECT CASE WHEN b.k IS NULL THEN 'added'
                         WHEN m.k IS NULL THEN 'removed'
                         WHEN b.st IS NOT DISTINCT FROM m.st
                              AND b.price IS NOT DISTINCT FROM m.price
                           THEN 'unchanged'
                         ELSE 'changed' END AS change_type
             FROM base b FULL OUTER JOIN merged m ON b.k = m.k)
      SELECT change_type, count(*)::BIGINT AS n
      FROM d GROUP BY change_type ORDER BY change_type"""))

  /** TPC-H Q4-shaped EXISTS semi join: orders with at least one lineitem
    * shipped more than 60 days after the order date, counted by priority.
    * Spark plans the left-semi with the non-equi predicate inside the hash
    * join — one pass over lineitem, no duplicate-amplifying inner join. */
  val semiJoinLate = Q(
    "q_exists_semi_join",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*)::BIGINT AS n_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** TPC-H Q13-shaped outer-join distribution: how many customers placed
    * exactly n orders (including zero — the LEFT join's reason to exist).
    * Two aggregations, both shuffling only per-group scalars. */
  val custOrderDist = Q(
    "q13_cust_order_dist",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_custs"))
        .orderBy(col("n_orders"))
    },
    Some("""
      SELECT n_orders, count(*)::BIGINT AS n_custs
      FROM (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS n_orders
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey)
      GROUP BY n_orders ORDER BY n_orders"""))

  /** GROUPING SETS — the §2.6 multi-dimensional aggregation shape beyond
    * rollup: per-flag and per-status marginals in ONE pass (Spark expands
    * each input row per set map-side, then one hash aggregation). */
  val groupingSetsQ = Q(
    "q_grouping_sets",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n,
             grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag, l_linestatus"""))

  /** TPC-H Q17-shaped correlated scalar subquery: lineitems whose quantity
    * is below 20% of their part's average quantity. Expressed (and planned)
    * as the decorrelated form — per-part averages once, broadcast back —
    * which is exactly what an optimizer must rewrite the correlated
    * subquery into; the DuckDB oracle keeps the correlated formulation, so
    * the gate proves the decorrelation equivalence. The 0.2·avg comparison
    * is single IEEE ops on both engines — deterministic, no rounding in
    * the predicate. */
  val smallQtyRevenue = Q(
    "q17_small_qty_revenue",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val avgQ = li.groupBy(col("l_partkey").as("p_key"))
        .agg(avg("l_quantity").as("avg_qty"))
      li.join(broadcast(avgQ), col("l_partkey") === col("p_key"))
        .filter(col("l_quantity") < col("avg_qty") * 0.2)
        .agg(
          round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    },
    Some("""
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
             count(*)::BIGINT AS n_items
      FROM lineitem l1
      WHERE l1.l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = l1.l_partkey)"""))

  /** Stream-static enrichment (`StreamOps.enrichStream`) on the batch
    * events table: a deterministic per-type weight dimension joined in as
    * a broadcast, rolled up hourly — the lookup-join shape of every event
    * pipeline, hash-gated like the other streaming twins. */
  val eventsEnriched = Q(
    "q_events_enriched",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val dim = e.select("event_type").distinct()
        .withColumn("weight", length(col("event_type")).cast("long"))
      graft.streaming.StreamOps.enrichStream(e, dim, "event_type")
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("weight")).as("sum_weight"))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("n"), col("sum_weight"))
        .orderBy("bucket", "event_type")
    },
    Some("""
      WITH dim AS (SELECT DISTINCT event_type,
                          length(event_type)::BIGINT AS weight
                   FROM events)
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             e.event_type, count(*) AS n, sum(weight)::BIGINT AS sum_weight
      FROM events e JOIN dim USING (event_type)
      GROUP BY 1, 2 ORDER BY bucket, e.event_type"""))

  /** RANGE-frame window: per user, how many of their events fall in the
    * trailing hour ending at each event — the value-based frame (RANGE
    * BETWEEN) that rows-based frames cannot express when events cluster.
    * One shuffle on user_id; the frame is integer micros, counts are
    * exact. Limited to users < 50 to keep the verify dump lean. */
  val trailingWindow = Q(
    "q_window_range_frame",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("n_trailing_1h", count(lit(1)).over(w))
        .orderBy("user_id", "us", "event_id")
    },
    Some("""
      SELECT user_id, event_id, epoch_us(ts) AS us,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS n_trailing_1h
      FROM events WHERE user_id < 50
      ORDER BY user_id, us, event_id"""))

  /** The Z-order (Morton) kernel [[graft.ops.Layout.zValue]],
    * hash-gated: pure integer mask-cascade arithmetic replayed identically
    * in DuckDB (tools/ZorderProbe measures what the layout buys: 5x scan
    * reduction on random 2-D boxes at 4M rows). */
  val zorderValue = Q(
    "q_zorder_value",
    (s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id") < 5)
      e.select(col("event_id"),
        graft.ops.Layout.zValue(
          col("user_id") % 4096, col("event_id") % 4096, bits = 12).as("z"))
        .orderBy("event_id")
    },
    Some {
      // the same spread cascade as Layout.spread16, inlined as SQL —
      // masks in decimal: 0x00FF00FF, 0x0F0F0F0F, 0x33333333, 0x55555555
      def spread(c: String): String = {
        val s8 = s"((($c) | (($c) << 8)) & 16711935)"
        val s4 = s"((($s8) | (($s8) << 4)) & 252645135)"
        val s2 = s"((($s4) | (($s4) << 2)) & 858993459)"
        s"((($s2) | (($s2) << 1)) & 1431655765)"
      }
      val zx = spread("user_id % 4096")
      val zy = spread("event_id % 4096")
      s"""
      SELECT event_id, ($zx | ($zy << 1))::BIGINT AS z
      FROM events WHERE user_id < 5
      ORDER BY event_id"""
    })

  /** Semi-structured extraction: parse the events table's JSON `props`
    * column with a typed `from_json` schema (the Catalyst-native path —
    * the parse is one codegen'd expression, pushed inside the scan
    * projection; no UDF, no regex) and aggregate the extracted field. The
    * oracle uses DuckDB's json_extract — an independent JSON parser. */
  val eventsJson = Q(
    "q_events_json",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type, count(*)::BIGINT AS n,
             sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
             min(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS min_k,
             max(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Ordered window funnel (view → click → purchase within 24 h of the
    * user's FIRST view) via [[graft.ops.Funnel.funnelCounts]] — see the
    * operator scaladoc for the per-step-aggregate plan shape and the
    * boundary semantics (strict step order, inclusive window, min
    * anchor), both replayed exactly by this oracle and edge-gated with
    * planted events in FunnelSpec. */
  val windowFunnel = Q(
    "q_window_funnel",
    (s, dir) =>
      graft.ops.Funnel.funnelCounts(
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_type")),
        steps = Seq("view", "click", "purchase"),
        windowUs = 86400000000L) // 24 h
        .select(col("n_step_1").as("n_view"),
          col("n_step_2").as("n_click_24h"),
          col("n_step_3").as("n_purchase_24h")),
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      v AS (SELECT user_id, min(us) AS v_us FROM e
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.us) AS c_us, min(v.v_us) AS v_us
            FROM e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click'
              AND e.us > v.v_us AND e.us <= v.v_us + 86400000000
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.us) AS p_us
            FROM e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
              AND e.us > c.c_us AND e.us <= c.v_us + 86400000000
            GROUP BY e.user_id)
      SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
             (SELECT count(*) FROM c)::BIGINT AS n_click_24h,
             (SELECT count(*) FROM p)::BIGINT AS n_purchase_24h"""))

  /** Time-to-convert distribution over the funnel — for each step past
    * the anchor, how long users who reached it took from their first
    * view: exact integer-µs latencies (step_k_us − step_1_us from
    * [[graft.ops.Funnel.funnelSteps]]'s per-user wide frame), aggregated
    * to n/min/max and type-7 p50/p90 (Spark `percentile` ≡ DuckDB
    * `quantile_cont` over integers — the profile_token_quantiles
    * determinism argument). The steps unpivot map-side from the wide
    * frame, so the whole entry costs the funnel's per-step user-level
    * aggregates plus one users-sized quantile shuffle over 2 bounded
    * groups. */
  val funnelTimeToConvert = Q(
    "q_funnel_time_to_convert",
    (s, dir) => {
      val wide = graft.ops.Funnel.funnelSteps(
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_type")),
        steps = Seq("view", "click", "purchase"),
        windowUs = 86400000000L) // 24 h
      wide.select(explode(array(
        struct(lit("click").as("step"),
          (col("step_2_us") - col("step_1_us")).as("lat_us")),
        struct(lit("purchase").as("step"),
          (col("step_3_us") - col("step_1_us")).as("lat_us")))).as("t"))
        .select(col("t.step").as("step"), col("t.lat_us").as("lat_us"))
        .filter(col("lat_us").isNotNull)
        .groupBy("step")
        .agg(count(lit(1)).as("n_users"),
          min("lat_us").as("min_us"), max("lat_us").as("max_us"),
          round(expr("percentile(lat_us, 0.5)"), 4).as("p50_us"),
          round(expr("percentile(lat_us, 0.9)"), 4).as("p90_us"))
        .orderBy("step")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      v AS (SELECT user_id, min(us) AS v_us FROM e
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.us) AS c_us, min(v.v_us) AS v_us
            FROM e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click'
              AND e.us > v.v_us AND e.us <= v.v_us + 86400000000
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.us) AS p_us, min(c.v_us) AS v_us
            FROM e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
              AND e.us > c.c_us AND e.us <= c.v_us + 86400000000
            GROUP BY e.user_id),
      lat AS (SELECT 'click' AS step, c_us - v_us AS lat_us FROM c
              UNION ALL
              SELECT 'purchase', p_us - v_us FROM p)
      SELECT step, count(*)::BIGINT AS n_users,
             min(lat_us) AS min_us, max(lat_us) AS max_us,
             round(quantile_cont(lat_us, 0.5), 4) AS p50_us,
             round(quantile_cont(lat_us, 0.9), 4) AS p90_us
      FROM lat GROUP BY step ORDER BY step"""))

  /** Next-event TRANSITION MATRIX (first-order Markov) — the path-analysis
    * classic next to sessions/funnel/retention/RFM/attribution: for every
    * consecutive event pair within a user's (us, event_id)-ordered stream,
    * count (from_type → to_type) and express the row-conditional
    * probability in integer basis points (n·10000 div n_from — exact on
    * both engines, remainder truncated). One lag window partitioned on
    * user_id (per-user event lists, bounded), then two tiny aggregates
    * over the |types|² grid — at 100 TB the only corpus-scale work is the
    * per-user sort inside the window's user-keyed exchange; nothing joins
    * events to events. */
  /** Trailing-window ANOMALY detection on the hourly event series — the
    * ops-dashboard classic ("did this hour's click volume spike?"),
    * integer-exact: the 2σ test (x−μ)² > 4σ² cross-multiplies to
    * (24·c − S)² > 4·(24·Q − S²) over the previous 24 hourly counts
    * (S = Σc, Q = Σc²), so there is no sqrt, no float mean, and the
    * flag cannot flake. The quadratic terms run in DECIMAL(38,0)
    * (HUGEINT in the oracle): exact for hourly counts to ~4·10¹⁷, and
    * NULL (visible) rather than silently wrapped beyond — BIGINT would
    * wrap s24² at c ≈ 2·10⁹. Scale shape: the corpus aggregates to the
    * hourly count table FIRST (map-side partials; the table is
    * hours×types-sized regardless of event volume), and the trailing
    * window runs over that tiny derived series — at 100 TB the window
    * never touches raw events. Hours with fewer than 24 predecessors
    * (per type, ROWS-based) are warm-up and not emitted. */
  /** The trailing-window flag arithmetic of [[eventsAnomaly]] over an
    * already-aggregated hourly count table (event_type, h, c) — shared
    * with the streaming exec twin so both paths run ONE set of exact
    * integer comparisons (see the batch entry's overflow notes). */
  def anomalyFlags(hc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-24, -1)
    val d = lit(24L) * dec(col("c")) - dec(col("s24"))
    hc.withColumn("n24", count(lit(1)).over(w))
      .withColumn("s24", sum("c").over(w))
      .withColumn("q24", sum(dec(col("c")) * dec(col("c"))).over(w))
      .filter(col("n24") === 24)
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("c"), col("s24"),
        (d * d >
          lit(4L) * (lit(24L) * col("q24") - dec(col("s24")) * dec(col("s24"))))
          .as("is_anomaly"))
      .orderBy("event_type", "hour_start")
  }

  val eventsAnomaly = Q(
    "q_events_anomaly",
    (s, dir) => {
      // All quadratic terms in DECIMAL(38,0) (HUGEINT on the oracle):
      // c*c, s24*s24 and (24c-s24)^2 silently wrap in BIGINT once hourly
      // counts pass ~2e9, which is exactly the regime the "window never
      // touches raw events" shape exists for. DECIMAL(38,0) keeps the
      // test exact for hourly counts up to ~4e17 (576·c² ≤ 1e38) — far
      // past any real event volume — and OVERFLOWS TO NULL (visible, not
      // silently wrong) beyond it. q24's per-term c² is the overflow
      // carrier, so it stays internal; the output keeps the BIGINT-safe
      // columns only.
      val hc = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      anomalyFlags(hc)
    },
    Some("""
      WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h,
                         count(*)::BIGINT AS c
                  FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, h, c,
                    count(*) OVER w AS n24,
                    sum(c) OVER w AS s24,
                    sum(c::HUGEINT * c::HUGEINT) OVER w AS q24
             FROM hc
             WINDOW w AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, c,
             s24::BIGINT AS s24,
             (24 * c::HUGEINT - s24) * (24 * c::HUGEINT - s24) >
               4 * (24 * q24 - s24::HUGEINT * s24::HUGEINT) AS is_anomaly
      FROM st WHERE n24 = 24 ORDER BY event_type, hour_start"""))

  /** STREAMING anomaly monitor — the exec twin of [[eventsAnomaly]]: the
    * hourly count series is MAINTAINED incrementally
    * ([[graft.streaming.StreamOps.hourlyCountsAppend]] — append mode, each
    * (hour, type) row finalized exactly once when the watermark passes),
    * then the identical [[anomalyFlags]] arithmetic runs over the
    * materialized series. Two far-future sentinel batches flush the tail
    * hours (the watermark-riding gate policy); the oracle is the SAME SQL
    * as the batch entry, so the hash proves the incremental series equals
    * the full-scan aggregation. At 100 TB this is the shape that works:
    * the monitor's state is hours×types-sized, raw events are seen once. */
  val eventsAnomalyStreamExec = Q(
    "stream_anomaly_exec",
    (s, dir) => {
      import s.implicits._
      // sort by event time like every other append-mode exec feed — an
      // out-of-order chunk would advance the watermark past older rows in
      // later chunks and the engine would silently drop them (the gate
      // must not rest on the fixture parquet happening to be ordered)
      val rows = StreamFeed.collectCapped(Tables.events(s, dir)
        .select(col("ts"), col("event_type"))
        .as[(java.sql.Timestamp, String)], "stream_anomaly_exec")
        .sortBy(_._1.getTime)
      val maxMs = rows.iterator.map(_._1.getTime).max
      // first sentinel advances the watermark past every real hour; the
      // second's batch emits the finalized tail against it
      val sentinels = Seq(10L, 11L).map(d =>
        Seq((new java.sql.Timestamp(maxMs + d * 86400000L), "__sentinel")))
      val run = StreamFeed.replay(s, "stream_anomaly_exec", 8,
          StreamFeed.batches(rows, 4) ++ sentinels) { (in, run) =>
        graft.streaming.StreamOps
          .hourlyCountsAppend(in.toDF("ts", "event_type"))
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("append").start()
      }
      anomalyFlags(
        s.table(run.sink).filter(col("event_type") =!= "__sentinel"))
    },
    Some("""
      WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h,
                         count(*)::BIGINT AS c
                  FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, h, c,
                    count(*) OVER w AS n24,
                    sum(c) OVER w AS s24,
                    sum(c::HUGEINT * c::HUGEINT) OVER w AS q24
             FROM hc
             WINDOW w AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, c,
             s24::BIGINT AS s24,
             (24 * c::HUGEINT - s24) * (24 * c::HUGEINT - s24) >
               4 * (24 * q24 - s24::HUGEINT * s24::HUGEINT) AS is_anomaly
      FROM st WHERE n24 = 24 ORDER BY event_type, hour_start"""))

  /** χ² A/B test, integer-exact: users split into arms by user_id
    * parity, conversion = a heavy purchaser (>13 purchase events — the
    * fixture median, so both cells of each arm are populated and the
    * flag is live, not vacuous); significance at α = 0.05
    * cross-multiplies 1000·N·(ad−bc)² > 3841·R1·R2·C1·C2 (χ² > 3.841
    * with 1 dof) with every CELL cast to DECIMAL(38,0)/HUGEINT before
    * any product, so no sqrt or float division exists anywhere and
    * nothing wraps silently: exact to N ≈ 1.7·10⁷ users (the 38-digit
    * budget of 62.5·N⁵), loudly NULL/erroring beyond — where a
    * full-census χ² is degenerate anyway. The 2×2 table is two
    * user-sized aggregates (arm, converted) — at 100 TB the test costs
    * one partial-agg pass over events and a 4-row pivot, and the
    * deterministic parity split stands in for a real assignment
    * column. */
  val eventsAbtest = Q(
    "q_events_abtest",
    (s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
          13L).cast("long").as("conv"))
        .select((col("user_id") % 2).as("arm"), col("conv"))
      val cells = users.groupBy("arm", "conv").agg(count(lit(1)).as("n"))
      val t = cells.agg(
        sum(when(col("arm") === 0 && col("conv") === 1, col("n"))
          .otherwise(0L)).as("a"),
        sum(when(col("arm") === 0 && col("conv") === 0, col("n"))
          .otherwise(0L)).as("b"),
        sum(when(col("arm") === 1 && col("conv") === 1, col("n"))
          .otherwise(0L)).as("c"),
        sum(when(col("arm") === 1 && col("conv") === 0, col("n"))
          .otherwise(0L)).as("d"))
      val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
      // cells cast to DECIMAL BEFORE the determinant products — a*d in
      // BIGINT wraps silently past ~3e9-user cells. DECIMAL(38,0) keeps
      // the whole comparison exact to N ≈ 1.7e7 users (62.5·N⁵ ≤ 1e38)
      // and NULLs visibly beyond (HUGEINT errors on the oracle side);
      // past that population a full-census χ² is statistically
      // degenerate anyway — test a bounded sample.
      val det = dec(col("a")) * dec(col("d")) - dec(col("b")) * dec(col("c"))
      t.select(col("a"), col("b"), col("c"), col("d"),
        (dec(lit(1000L)) * dec(col("a") + col("b") + col("c") + col("d")) *
          det * det >
          dec(lit(3841L)) * dec(col("a") + col("b")) * dec(col("c") + col("d")) *
            dec(col("a") + col("c")) * dec(col("b") + col("d")))
          .as("significant"))
    },
    Some("""
      WITH u AS (SELECT user_id % 2 AS arm,
                        CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                           THEN 1 ELSE 0 END) > 13
                             THEN 1 ELSE 0 END AS conv
                 FROM events GROUP BY user_id),
      t AS (SELECT
              sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
              sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
              sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
              sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS d
            FROM u)
      SELECT a, b, c, d,
             1000::HUGEINT * (a + b + c + d)::HUGEINT
               * (a::HUGEINT * d - b::HUGEINT * c)
               * (a::HUGEINT * d - b::HUGEINT * c)
             > 3841::HUGEINT * (a + b)::HUGEINT * (c + d)::HUGEINT
               * (a + c)::HUGEINT * (b + d)::HUGEINT AS significant
      FROM t"""))

  private val MarkovIters = 64

  /** Markov REMOVAL-EFFECT attribution ([[graft.ops.MarkovAttribution]]) —
    * the data-driven attribution model next to the first/last/linear and
    * time-decay heuristics: absorption probability of `conv` from `start`
    * over the first-order journey chain, re-solved with each channel
    * pinned unreachable; credit = normalized probability drop. All math
    * is the K-step truncated integer fixed point (basis points), so the
    * oracle replays the identical recurrence as K unrolled CTEs over the
    * (chain, state) grid. Corpus-scale work is ONE user-keyed window pass
    * to the transition grid (the `q_events_transitions` shape); the
    * vocabulary-squared grid is collected and the chain solve runs on the
    * driver in microseconds at any corpus size. */
  val eventsAttributionMarkov = Q(
    "q_events_attribution_markov",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      graft.ops.MarkovAttribution.removalEffects(e, iters = MarkovIters)
    },
    Some(s"""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
                 FROM events),
      conv AS MATERIALIZED (SELECT user_id, min(us) AS c_us FROM e
               WHERE event_type = 'purchase' GROUP BY user_id),
      t AS MATERIALIZED (SELECT e.user_id, e.event_type, e.us, e.event_id, c.c_us
            FROM e LEFT JOIN conv c USING (user_id)
            WHERE e.event_type IN ('view', 'click')
              AND (c.c_us IS NULL
                   OR (e.us < c.c_us AND e.us >= c.c_us - 604800000000))),
      r AS MATERIALIZED (SELECT user_id, event_type, c_us,
                   row_number() OVER w AS rn,
                   lead(event_type) OVER w AS nxt,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      edges AS MATERIALIZED (
        SELECT 'start' AS f, event_type AS t2 FROM r WHERE rn = 1
        UNION ALL
        SELECT event_type, nxt FROM r WHERE nxt IS NOT NULL
        UNION ALL
        SELECT event_type,
               CASE WHEN c_us IS NOT NULL THEN 'conv' ELSE 'null' END
        FROM r WHERE rn = n
        UNION ALL
        SELECT 'start', 'conv' FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.user_id = c.user_id)),
      ${graft.ops.MarkovAttribution.oracleSql(MarkovIters)}
      SELECT channel, p_full_bp, p_removed_bp, removal_bp,
             CASE WHEN (SELECT sum(removal_bp) FROM shares) = 0 THEN 0
                  ELSE share_base + CASE WHEN rk <= 10000 -
                    (SELECT sum(share_base) FROM shares) THEN 1 ELSE 0 END
             END AS share_bp
      FROM shares ORDER BY channel"""))

  /** MARKET-BASKET pair lift — association-rule mining's workhorse (the
    * pairwise special case of Apriori, Agrawal & Srikant '94) over the
    * (order, part) baskets: which parts co-occur more than independence
    * predicts. Counts are exact; lift is integer BASIS POINTS
    * (n12·N·10000 div (n1·n2) — truncation, no float division), and the
    * top-100 cut orders by (n12 DESC, p1, p2), so nothing can flake the
    * hash.
    *
    * 100 TB shape — the Apriori pruning IS the plan: items below the
    * support floor are dropped BEFORE the pair join (left-semi against
    * the tiny frequent-part set, the same pruning that makes Apriori
    * tractable), so the order-keyed self-join fans out only over frequent
    * items per basket (bounded by basket size × frequent density, never
    * |parts|²); pair counts partial-aggregate map-side; the per-part
    * count table is broadcast back for the lift; the cut is TakeOrdered,
    * never a global sort. */
  /** Per-JVM shared basket derivations — the common first half of
    * q_basket_lift / q_basket_rules / stream_basket_exec computed ONCE per
    * fixture (the DedupQueries PairsCache policy): the deduplicated
    * (order, part) table and the Apriori-pruned qualifying pair counts,
    * both checkpointed (the distinct shuffle alone measured 5.8 → 2.9 s
    * at sf0.1 when it stopped re-running; production persists the basket
    * table to storage), plus the per-part counts and order total. */
  private object BasketCache {
    val MinItem = 20L
    val MinPair = 2L
    private val cache = scala.collection.concurrent.TrieMap[
      String,
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Long)]()
    /** (items, cnt, pairs, nOrders) for the fixture at `dir`. */
    def get(s: org.apache.spark.sql.SparkSession, dir: String)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
           org.apache.spark.sql.DataFrame, Long) =
      cache.getOrElseUpdate(dir, {
        val items = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .localCheckpoint(true)
        val cnt = items.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        val freq = cnt.filter(col("n") >= MinItem)
        val fi = items.join(broadcast(freq.select("l_partkey")),
          Seq("l_partkey"), "left_semi")
        val a = fi.select(col("l_orderkey"), col("l_partkey").as("p1"))
        val b = fi.select(col("l_orderkey"), col("l_partkey").as("p2"))
        val pairs = a.join(b, "l_orderkey")
          .filter(col("p1") < col("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("n12"))
          .filter(col("n12") >= MinPair)
          .localCheckpoint(true)
        val nOrders = items.select("l_orderkey").distinct().count()
        (items, cnt, pairs, nOrders)
      })
  }

  val basketLift = Q(
    "q_basket_lift",
    (s, dir) => {
      val (_, cnt, pairs, nOrders) = BasketCache.get(s, dir)
      pairs
        .join(broadcast(cnt.select(col("l_partkey").as("p1"),
          col("n").as("n1"))), "p1")
        .join(broadcast(cnt.select(col("l_partkey").as("p2"),
          col("n").as("n2"))), "p2")
        .select(col("p1"), col("p2"), col("n12"), col("n1"), col("n2"),
          expr(s"(n12 * ${nOrders}L * 10000L) div (n1 * n2)").as("lift_bp"))
        .orderBy(col("n12").desc, col("p1"), col("p2")).limit(100)
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      cnt AS (SELECT l_partkey, count(*)::BIGINT AS n FROM i GROUP BY 1),
      fi AS (SELECT i.l_orderkey, i.l_partkey FROM i
             JOIN cnt USING (l_partkey) WHERE cnt.n >= 20),
      pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                       count(*)::BIGINT AS n12
                FROM fi a JOIN fi b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2),
      no AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n FROM i)
      SELECT p.p1, p.p2, p.n12, c1.n AS n1, c2.n AS n2,
             (p.n12 * (SELECT n FROM no) * 10000) // (c1.n * c2.n) AS lift_bp
      FROM pairs p
      JOIN cnt c1 ON c1.l_partkey = p.p1
      JOIN cnt c2 ON c2.l_partkey = p.p2
      WHERE p.n12 >= 2
      ORDER BY p.n12 DESC, p.p1, p.p2 LIMIT 100"""))

  /** Directional ASSOCIATION RULES — [[basketLift]]'s second half: each
    * qualifying pair emits both orientations with integer basis-point
    * CONFIDENCE n12·10000 div n_ante (the P(cons|ante) estimate a
    * recommender actually serves) alongside the symmetric lift; top-100
    * by (conf DESC, ante, cons). Same plan skeleton as the lift entry —
    * Apriori broadcast prune before the pair join, checkpointed basket
    * table, TakeOrdered cut — plus one map-side two-way explode. */
  val basketRules = Q(
    "q_basket_rules",
    (s, dir) => {
      val (_, cnt, pairs, nOrders) = BasketCache.get(s, dir)
      val rules = pairs.select(col("n12"),
        explode(array(
          struct(col("p1").as("ante"), col("p2").as("cons")),
          struct(col("p2").as("ante"), col("p1").as("cons")))).as("r"))
        .select(col("r.ante").as("ante"), col("r.cons").as("cons"),
          col("n12"))
      rules
        .join(broadcast(cnt.select(col("l_partkey").as("ante"),
          col("n").as("n_ante"))), "ante")
        .join(broadcast(cnt.select(col("l_partkey").as("cons"),
          col("n").as("n_cons"))), "cons")
        .select(col("ante"), col("cons"), col("n12"), col("n_ante"),
          expr("(n12 * 10000L) div n_ante").as("conf_bp"),
          expr(s"(n12 * ${nOrders}L * 10000L) div (n_ante * n_cons)")
            .as("lift_bp"))
        .orderBy(col("conf_bp").desc, col("ante"), col("cons")).limit(100)
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      cnt AS (SELECT l_partkey, count(*)::BIGINT AS n FROM i GROUP BY 1),
      fi AS (SELECT i.l_orderkey, i.l_partkey FROM i
             JOIN cnt USING (l_partkey) WHERE cnt.n >= 20),
      pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                       count(*)::BIGINT AS n12
                FROM fi a JOIN fi b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2),
      no AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n FROM i),
      rules AS (SELECT p1 AS ante, p2 AS cons, n12 FROM pairs WHERE n12 >= 2
                UNION ALL
                SELECT p2, p1, n12 FROM pairs WHERE n12 >= 2)
      SELECT r.ante, r.cons, r.n12, ca.n AS n_ante,
             (r.n12 * 10000) // ca.n AS conf_bp,
             (r.n12 * (SELECT n FROM no) * 10000) // (ca.n * cc.n) AS lift_bp
      FROM rules r
      JOIN cnt ca ON ca.l_partkey = r.ante
      JOIN cnt cc ON cc.l_partkey = r.cons
      ORDER BY conf_bp DESC, ante, cons LIMIT 100"""))

  /** STREAMING basket-pair maintenance — the exec twin of
    * [[basketLift]]'s pair counting
    * ([[graft.streaming.StreamOps.basketPairsStream]]): items arrive in
    * four arbitrary chunks, per-order state buffers the distinct basket,
    * every new part emits its pairs exactly once, and the additive rollup
    * of the emission stream must hash-equal the batch self-join's pair
    * counts — cross-batch basket splits are exercised by construction
    * (orders span chunk boundaries). The support floor (n12 ≥ 2) applies
    * at read time; the Apriori item prune is a corpus-level decision a
    * stream cannot make mid-flight, so the maintained set is unpruned. */
  val basketStreamExec = Q(
    "stream_basket_exec",
    (s, dir) => {
      import s.implicits._
      // feed order-clustered (the realistic arrival shape — and an
      // UNclustered feed makes every batch touch every order's state:
      // measured 17.8 s vs 6.4 s warm at sf0.1 for identical output);
      // orders straddling chunk boundaries still exercise the cross-batch
      // basket split, and the deterministic sort keeps the gate stable.
      // Event time = epoch + orderkey seconds (ascending with the feed, so
      // nothing arrives late): the orderkey span (~7 days at sf0.1) stays
      // far inside the 30-day retirement TTL, so no basket retires
      // mid-run and the emission set is identical to the pre-TTL gate —
      // retirement itself is spec- and probe-gated (StreamingSpec /
      // PipelineScaleProbe basketstream).
      val rows = StreamFeed.collectCapped(BasketCache.get(s, dir)._1
        .select(col("l_orderkey"), col("l_partkey"),
          timestamp_seconds(col("l_orderkey")).as("ts"))
        .orderBy("l_orderkey", "l_partkey")
        .as[(Long, Long, java.sql.Timestamp)], "stream_basket_exec")
      // r16 transport (guide §5, the driver): the gate's ~900k pair
      // emissions were the catalog's largest memory-sink transport — every
      // pair row crossed the driver per micro-batch commit, a guaranteed
      // driver bottleneck at 100 TB. The stream now lands DISTRIBUTED
      // per-epoch partial counts in an append EpochStore (the
      // applyCrawlBatch delta-rollup idiom; count-of-pairs = sum of
      // per-epoch counts, exact integer algebra, so the declared aggregate
      // is unchanged) and the driver never sees a pair row. A raw-emission
      // write was A/B'd: it skips the per-batch aggregation exchange
      // (19.5 vs 31.1 MB local shuffle) but stores the full emission
      // volume and pushes it through every serving read — the per-epoch
      // aggregate keeps the store and the serving read delta-sized, which
      // is the shape that survives 100 TB (guide §2.3 aggregate-before-
      // shuffle). The store lives in the invocation's own dir — transport,
      // not a cross-run cache. Cost is feed/emission volume, not batch
      // count (2 vs 4 chunks measured equal within noise) — keep 4 for the
      // stronger cross-batch split exercise.
      def pairCounts(
          df: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.Column) =
        df.groupBy("p1", "p2").agg(n.as("n"))
      val store = StreamFeed.replay(s, "stream_basket_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        val pairs = graft.streaming.EpochStore.Append(
          s"${run.dir}/store", pairCounts(_, sum("n")))
        graft.streaming.EpochStore.maintain(
            graft.streaming.StreamOps
              .basketPairsStream(in.toDF("order_id", "part_id", "ts")),
            s"${run.dir}/ckpt", Seq(pairs)) { (batch, id) =>
          graft.streaming.EpochStore.append(s, pairs.path, id)(
            pairCounts(batch, count(lit(1))))
        }
      }.dir + "/store"
      graft.streaming.EpochStore.read(s, store).get
        .groupBy("p1", "p2").agg(sum("n").as("n12"))
        .filter(col("n12") >= 2)
        .orderBy("p1", "p2")
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                       count(*)::BIGINT AS n12
                FROM i a JOIN i b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2)
      SELECT p1, p2, n12 FROM pairs WHERE n12 >= 2 ORDER BY p1, p2"""))

  /** TOP CONVERTING PATHS — the journey-level view the Markov entry
    * aggregates away: each converter's channel sequence (last 8 touches
    * inside the 7-day lookback, nearest the conversion — the cap bounds
    * path cardinality and state size by construction) rendered
    * `view>click>…`, counted and ranked. Deterministic end to end: touch
    * order is (us, event_id) — exact integer microseconds with a unique
    * tiebreak — and the top-50 cut orders by (n_users DESC, path), so no
    * tie can flake the hash.
    *
    * 100 TB shape: touches shuffle ONCE on user against the users-sized
    * conversion build side; the recency cap and the path assembly are one
    * user-partitioned window + one user-keyed aggregate over ≤8-element
    * lists; the path rollup partial-aggregates map-side (path strings are
    * ≤8 tokens); the final cut is TakeOrdered(50), never a global sort. */
  val eventsPathsTopk = Q(
    "q_events_paths_topk",
    (s, dir) => {
      val LookbackUs = 7L * 86400000000L
      val e = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("event_id"))
      val conv = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("us").as("c_us"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .join(conv, "user_id")
        .filter(col("us") < col("c_us") &&
          col("us") >= col("c_us") - LookbackUs)
      val recent = touches.withColumn("rd", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("us").desc, col("event_id").desc)))
        .filter(col("rd") <= 8)
      val paths = recent.groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(
            struct(col("us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      paths.groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(50)
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
                 FROM events),
      conv AS (SELECT user_id, min(us) AS c_us FROM e
               WHERE event_type = 'purchase' GROUP BY user_id),
      t AS (SELECT e.user_id, e.event_type, e.us, e.event_id
            FROM e JOIN conv c USING (user_id)
            WHERE e.event_type IN ('view', 'click')
              AND e.us < c.c_us AND e.us >= c.c_us - 604800000000),
      recent AS (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY us DESC, event_id DESC) AS rd
                 FROM t),
      p AS (SELECT user_id,
                   string_agg(event_type, '>' ORDER BY us, event_id) AS path
            FROM recent WHERE rd <= 8 GROUP BY user_id)
      SELECT path, count(*)::BIGINT AS n_users FROM p GROUP BY path
      ORDER BY n_users DESC, path LIMIT 50"""))

  val eventsTransitions = Q(
    "q_events_transitions",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val tr = e.withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
      val cnt = tr.groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("from_type").agg(sum("n").as("n_from"))
      cnt.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("n * 10000 div n_from").as("p_bp"))
        .orderBy("from_type", "to_type")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
                 FROM events),
      tr AS (SELECT event_type AS from_type,
                    lead(event_type) OVER (PARTITION BY user_id
                                           ORDER BY us, event_id) AS to_type
             FROM e),
      cnt AS (SELECT from_type, to_type, count(*)::BIGINT AS n
              FROM tr WHERE to_type IS NOT NULL
              GROUP BY from_type, to_type),
      tot AS (SELECT from_type, sum(n)::BIGINT AS n_from
              FROM cnt GROUP BY from_type)
      SELECT c.from_type, c.to_type, c.n, c.n * 10000 // t.n_from AS p_bp
      FROM cnt c JOIN tot t USING (from_type)
      ORDER BY from_type, to_type"""))

  /** Theta-sketch SET-INTERSECTION — the sketch family's answer to
    * "how many (user, day) pairs did BOTH click and purchase?" at 100 TB:
    * HLL can only union, theta sketches support intersection/difference,
    * so per-(type, hour) sketches roll up to per-type sketches
    * (mergeable, like q_sketch_rollup) and the overlap is estimated from
    * the two 4 KB buffers — never a distinct-pair shuffle of the raw
    * corpus. Gated like q_sketch_distinct: the exact intersection (small
    * here) rides next to a within-5% flag the oracle asserts TRUE; the
    * composite key is exact integer arithmetic (user_id·2^20 +
    * epoch-day, the shift wide enough that no realistic epoch-day can alias across users) on both engines. n_parts witnesses a real multi-sketch
    * merge (hundreds of hourly sketches per type). Margin: measured
    * estimate/exact = 5971/5877 (1.6% rel, ≈ the lgK=12 1σ RSE) at
    * sf0.1, exact at sf0.01 — and theta's fixed hash seed makes the
    * estimate DETERMINISTIC per corpus, so the flag is a regression
    * tripwire, not a statistical gamble. */
  val sketchThetaOverlap = Q(
    "q_sketch_theta_overlap",
    (s, dir) => {
      val k = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          (col("user_id") * 1048576L +
            expr("unix_micros(ts) div 86400000000")).as("uk"))
      val fine = k.groupBy("event_type", "h")
        .agg(expr("theta_sketch_agg(uk)").as("sk"))
      val per = fine.groupBy("event_type")
        .agg(expr("theta_union_agg(sk)").as("sk"),
          count(lit(1)).as("n_parts"))
      val est = per.agg(
        expr("theta_sketch_estimate(theta_intersection_agg(sk))")
          .cast("long").as("est_both"),
        sum("n_parts").as("n_parts"))
      val exact = k.filter(col("event_type") === "click").select("uk")
        .intersect(
          k.filter(col("event_type") === "purchase").select("uk"))
        .agg(count(lit(1)).as("exact_both"))
      est.crossJoin(exact)
        .select(col("n_parts"), col("exact_both"),
          (abs(col("est_both") - col("exact_both")) * lit(20L) <=
            col("exact_both")).as("within_5pct"))
    },
    Some("""
      WITH k AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               user_id * 1048576 + epoch_us(ts) // 86400000000 AS uk
        FROM events WHERE event_type IN ('click', 'purchase'))
      SELECT (SELECT count(*) FROM (SELECT DISTINCT event_type, h FROM k))::BIGINT
               AS n_parts,
             (SELECT count(*) FROM
               (SELECT DISTINCT uk FROM k WHERE event_type = 'click'
                INTERSECT
                SELECT DISTINCT uk FROM k WHERE event_type = 'purchase'))::BIGINT
               AS exact_both,
             TRUE AS within_5pct"""))

  /** Cohort RETENTION matrix — the third classic event-analytics shape
    * next to sessionization and the funnel: users are cohorted by their
    * FIRST-activity week (epoch-week integer), and cell (cohort, offset)
    * counts cohort members active `offset` weeks later. Two user-level
    * aggregates (first week, distinct (user, week) activity) and one join
    * between them — both frames are ≤ |users|·|weeks| rows regardless of
    * event volume, so at 100 TB the matrix costs two partial-agg shuffles
    * over user-sized frames, never an events-sized join. retained_pct is
    * integer basis points (·10000 div cohort size) — no float division to
    * flake the hash. Epoch-week arithmetic (`us div 7-days`) is identical
    * integer math on both engines and dodges ISO-week/locale divergence. */
  val eventsRetention = Q(
    "q_events_retention",
    (s, dir) => {
      val WeekUs = 7L * 24 * 3600 * 1000000
      val e = Tables.events(s, dir)
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $WeekUs").as("wk"))
      val active = e.distinct() // (user, week) activity grid
      val cohort = active.groupBy("user_id").agg(min("wk").as("c_wk"))
      val sizes = cohort.groupBy("c_wk").agg(count(lit(1)).as("n_cohort"))
      active.join(cohort, "user_id")
        .groupBy(col("c_wk"), (col("wk") - col("c_wk")).as("offset_wk"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "c_wk")
        .select(col("c_wk"), col("offset_wk"), col("n_cohort"),
          col("n_active"),
          expr("n_active * 10000 div n_cohort").as("retained_bp"))
        .orderBy("c_wk", "offset_wk")
    },
    Some("""
      WITH e AS (SELECT DISTINCT user_id,
                        epoch_us(ts) // 604800000000 AS wk
                 FROM events),
      cohort AS (SELECT user_id, min(wk) AS c_wk FROM e GROUP BY user_id),
      sizes AS (SELECT c_wk, count(*)::BIGINT AS n_cohort
                FROM cohort GROUP BY c_wk),
      cells AS (SELECT c.c_wk, e.wk - c.c_wk AS offset_wk,
                       count(*)::BIGINT AS n_active
                FROM e JOIN cohort c USING (user_id)
                GROUP BY c.c_wk, e.wk - c.c_wk)
      SELECT x.c_wk, x.offset_wk, s.n_cohort, x.n_active,
             x.n_active * 10000 // s.n_cohort AS retained_bp
      FROM cells x JOIN sizes s USING (c_wk)
      ORDER BY c_wk, offset_wk"""))

  /** Cohort LTV curves — [[eventsRetention]]'s revenue twin: cumulative
    * purchase value (integer cents) per (first-purchase-week cohort,
    * week offset), plus per-user LTV via integer division. Same exactness
    * policy as retention (epoch-week buckets, no float anywhere) and the
    * same 100 TB shape: purchases reduce to a user-sized cohort aggregate,
    * rejoin ONCE on user (AQE broadcasts the build side), the revenue
    * grid is cohorts×offsets-sized, and the cumulative window runs over
    * that tiny derived grid — never over raw events. */
  val eventsLtv = Q(
    "q_events_ltv",
    (s, dir) => {
      val WeekUs = 7L * 24 * 3600 * 1000000
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $WeekUs").as("wk"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val cohort = p.groupBy("user_id").agg(min("wk").as("c_wk"))
      val sizes = cohort.groupBy("c_wk").agg(count(lit(1)).as("n_users"))
      val grid = p.join(cohort, "user_id")
        .groupBy(col("c_wk"), (col("wk") - col("c_wk")).as("offset_wk"))
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
      val w = Window.partitionBy("c_wk").orderBy("offset_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(broadcast(sizes), "c_wk")
        .withColumn("cum_cents", sum("cents").over(w))
        .select(col("c_wk"), col("offset_wk"), col("n_users"),
          col("n_purchases"), col("cents"), col("cum_cents"),
          expr("cum_cents div n_users").as("ltv_cents"))
        .orderBy("c_wk", "offset_wk")
    },
    Some("""
      WITH p AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events WHERE event_type = 'purchase'),
      cohort AS (SELECT user_id, min(wk) AS c_wk FROM p GROUP BY user_id),
      sizes AS (SELECT c_wk, count(*)::BIGINT AS n_users
                FROM cohort GROUP BY c_wk),
      grid AS (SELECT c.c_wk, p.wk - c.c_wk AS offset_wk,
                      count(*)::BIGINT AS n_purchases,
                      sum(p.cents)::BIGINT AS cents
               FROM p JOIN cohort c USING (user_id)
               GROUP BY c.c_wk, p.wk - c.c_wk),
      cum AS (SELECT g.c_wk, g.offset_wk, s.n_users, g.n_purchases, g.cents,
                     sum(g.cents) OVER (PARTITION BY g.c_wk
                       ORDER BY g.offset_wk
                       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
              FROM grid g JOIN sizes s USING (c_wk))
      SELECT c_wk, offset_wk, n_users, n_purchases, cents, cum_cents,
             cum_cents // n_users AS ltv_cents
      FROM cum ORDER BY c_wk, offset_wk"""))

  /** RFM segmentation — the fourth event-analytics classic (after
    * sessions, funnel, retention): per-user Recency (days since last
    * purchase, against the corpus max timestamp so the query is
    * reproducible), Frequency (purchase count) and Monetary (value summed
    * in integer cents), each cut at fixed integer thresholds into
    * high/low, then rolled up to the 8-cell segment grid. One user-level
    * aggregate over the purchase slice + a broadcast of the single
    * max-timestamp row; the segment map is a pure projection — events
    * shuffle once, user frames never exceed |users|. Fixed thresholds
    * rather than ntile: quantile cuts tie-break nondeterministically
    * across engines, integer cuts cannot (doc_quality_percentile_filter
    * gates the data-driven variant separately). */
  val eventsRfm = Q(
    "q_events_rfm",
    (s, dir) => {
      val DayUs = 86400000000L
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val maxUs = p.agg(max("us").as("max_us"))
      val rfm = p.groupBy("user_id")
        .agg(max("us").as("last_us"), count(lit(1)).as("freq"),
          sum("cents").as("cents"))
        .crossJoin(broadcast(maxUs))
        .select(col("user_id"),
          expr(s"(max_us - last_us) div $DayUs").as("recency_d"),
          col("freq"), col("cents"))
      rfm.select(
        when(col("recency_d") <= 2, "r_hi").otherwise("r_lo").as("r"),
        when(col("freq") >= 14, "f_hi").otherwise("f_lo").as("f"),
        when(col("cents") >= 70000L, "m_hi").otherwise("m_lo").as("m"))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r", "f", "m")
    },
    Some("""
      WITH p AS (SELECT user_id, epoch_us(ts) AS us,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events WHERE event_type = 'purchase'),
      mx AS (SELECT max(us) AS max_us FROM p),
      rfm AS (SELECT user_id,
                     (mx.max_us - max(us)) // 86400000000 AS recency_d,
                     count(*)::BIGINT AS freq,
                     sum(cents)::BIGINT AS cents
              FROM p, mx GROUP BY user_id, mx.max_us)
      SELECT CASE WHEN recency_d <= 2 THEN 'r_hi' ELSE 'r_lo' END AS r,
             CASE WHEN freq >= 14 THEN 'f_hi' ELSE 'f_lo' END AS f,
             CASE WHEN cents >= 70000 THEN 'm_hi' ELSE 'm_lo' END AS m,
             count(*)::BIGINT AS n_users
      FROM rfm GROUP BY 1, 2, 3 ORDER BY r, f, m"""))

  /** Multi-touch ATTRIBUTION — the fifth event-analytics classic (after
    * sessions, funnel, retention, RFM): each converting user's pre-
    * conversion touches (view/click inside a 7-day lookback before the
    * FIRST purchase — min-anchored like the funnel, one conversion per
    * user) split 10000 basis points of credit three ways at once:
    * first-touch (rank 1 takes all), last-touch (rank n takes all), and
    * linear (10000 div n each, remainder to the earliest touches — so
    * every conversion's credit sums to exactly 10000 with no float
    * division to flake the hash). Ranks order by (us, event_id): exact
    * integer microseconds with a unique tiebreak, deterministic on both
    * engines.
    *
    * 100 TB shape: conversions are one filtered user-level aggregate;
    * touches shuffle ONCE on the user key against that users-sized build
    * side (AQE broadcasts it when small); the rank window partitions on
    * user over lookback-bounded touch lists; the three models are a
    * 3-way explode of the already-ranked rows (map-side), rolled up to
    * the (model, channel) grid — never an events×events join. */
  val eventsAttribution = Q(
    "q_events_attribution",
    (s, dir) => {
      val LookbackUs = 7L * 86400000000L
      val e = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("event_id"))
      val conv = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("us").as("c_us"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .join(conv, "user_id")
        .filter(col("us") < col("c_us") &&
          col("us") >= col("c_us") - LookbackUs)
      val ranked = touches
        .withColumn("r", row_number().over(
          Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      val credited = ranked.select(col("event_type"),
        explode(array(
          struct(lit("first_touch").as("model"),
            when(col("r") === 1, lit(10000L)).otherwise(lit(0L)).as("bp")),
          struct(lit("last_touch").as("model"),
            when(col("r") === col("n"), lit(10000L)).otherwise(lit(0L)).as("bp")),
          struct(lit("linear").as("model"),
            (expr("10000 div n") +
              when(col("r") <= expr("10000 % n"), lit(1L)).otherwise(lit(0L)))
              .as("bp")))).as("mc"))
        .select(col("event_type"), col("mc.model").as("model"),
          col("mc.bp").as("bp"))
      credited.groupBy(col("model"), col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches"), sum("bp").as("credit_bp"))
        .orderBy("model", "channel")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type, event_id
                 FROM events),
      conv AS (SELECT user_id, min(us) AS c_us FROM e
               WHERE event_type = 'purchase' GROUP BY user_id),
      t AS (SELECT e.user_id, e.event_type, e.us, e.event_id
            FROM e JOIN conv c USING (user_id)
            WHERE e.event_type IN ('view', 'click')
              AND e.us < c.c_us AND e.us >= c.c_us - 604800000000),
      r AS (SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS r,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM t),
      m AS (
        SELECT event_type, 'first_touch' AS model,
               CASE WHEN r = 1 THEN 10000 ELSE 0 END AS bp FROM r
        UNION ALL
        SELECT event_type, 'last_touch',
               CASE WHEN r = n THEN 10000 ELSE 0 END FROM r
        UNION ALL
        SELECT event_type, 'linear',
               10000 // n + CASE WHEN r <= 10000 % n THEN 1 ELSE 0 END FROM r)
      SELECT model, event_type AS channel, count(*)::BIGINT AS n_touches,
             sum(bp)::BIGINT AS credit_bp
      FROM m GROUP BY model, event_type ORDER BY model, channel"""))

  /** TIME-DECAY attribution — [[eventsAttribution]]'s fourth model, kept
    * as its own entry so the three-model grid's gate stays untouched:
    * each touch weighs 2^(7 − age_days) (halving per day of age, age 0–7
    * inside the lookback — power-of-two weights so the per-user share is
    * pure integer arithmetic), credit_bp = (10000·w) div Σw with the
    * remainder distributed +1 to the earliest touches (each touch's
    * truncation loss is < 1, so remainder < n and every conversion sums
    * to exactly 10000 — no float division to flake the hash). Output is
    * the (channel, age_days) decay profile. Same 100 TB shape as the
    * base entry: one users-sized conversion aggregate, touches shuffle
    * once on user, windows partition on user over lookback-bounded touch
    * lists. */
  val eventsAttributionDecay = Q(
    "q_events_attribution_decay",
    (s, dir) => {
      val DayUs = 86400000000L
      val LookbackUs = 7L * DayUs
      val e = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("event_id"))
      val conv = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("us").as("c_us"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .join(conv, "user_id")
        .filter(col("us") < col("c_us") &&
          col("us") >= col("c_us") - LookbackUs)
      val wUser = Window.partitionBy("user_id")
      val weighted = touches
        .withColumn("age_d", expr(s"(c_us - us) div $DayUs"))
        .withColumn("w", expr("shiftleft(1L, cast(7 - age_d as int))"))
        .withColumn("r", row_number().over(
          Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
        .withColumn("tw", sum("w").over(wUser))
        .withColumn("base", expr("(10000 * w) div tw"))
        .withColumn("rem", lit(10000L) - sum("base").over(wUser))
        .withColumn("bp",
          col("base") + when(col("r") <= col("rem"), 1L).otherwise(0L))
      weighted
        .groupBy(col("event_type").as("channel"), col("age_d"))
        .agg(count(lit(1)).as("n_touches"), sum("bp").as("credit_bp"))
        .orderBy("channel", "age_d")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type, event_id
                 FROM events),
      conv AS (SELECT user_id, min(us) AS c_us FROM e
               WHERE event_type = 'purchase' GROUP BY user_id),
      t AS (SELECT e.user_id, e.event_type, e.us, e.event_id,
                   (c.c_us - e.us) // 86400000000 AS age_d
            FROM e JOIN conv c USING (user_id)
            WHERE e.event_type IN ('view', 'click')
              AND e.us < c.c_us AND e.us >= c.c_us - 604800000000),
      r AS (SELECT user_id, event_type, age_d,
                   (1::BIGINT << CAST(7 - age_d AS INT)) AS w,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS r
            FROM t),
      b AS (SELECT user_id, event_type, age_d, r,
                   (10000 * w) // sum(w) OVER (PARTITION BY user_id) AS base
            FROM r),
      f AS (SELECT *, 10000 - sum(base) OVER (PARTITION BY user_id) AS rem
            FROM b)
      SELECT event_type AS channel, age_d,
             count(*)::BIGINT AS n_touches,
             sum(base + CASE WHEN r <= rem THEN 1 ELSE 0 END)::BIGINT
               AS credit_bp
      FROM f GROUP BY 1, 2 ORDER BY channel, age_d"""))

  /** Theta-sketch SET-DIFFERENCE — [[sketchThetaOverlap]]'s churn twin:
    * how many (user, day) pairs clicked but NEVER purchased that day,
    * estimated from the same two rolled-up per-type sketches via
    * `theta_difference` (A \\ B — with union and intersection this
    * completes the sketch set algebra; HLL supports only union). Same
    * falsifiable gate and determinism argument as the overlap entry;
    * exact via an anti-join of the distinct key sets. */
  val sketchThetaDiff = Q(
    "q_sketch_theta_diff",
    (s, dir) => {
      val k = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 1048576L +
            expr("unix_micros(ts) div 86400000000")).as("uk"))
      val per = k.groupBy("event_type")
        .agg(expr("theta_sketch_agg(uk)").as("sk"))
      val est = per.agg(
        expr("""theta_sketch_estimate(theta_difference(
            max(CASE WHEN event_type = 'click' THEN sk END),
            max(CASE WHEN event_type = 'purchase' THEN sk END)))""")
          .cast("long").as("est_click_only"))
      val exact = k.filter(col("event_type") === "click").select("uk").distinct()
        .join(k.filter(col("event_type") === "purchase").select("uk").distinct(),
          Seq("uk"), "left_anti")
        .agg(count(lit(1)).as("exact_click_only"))
      est.crossJoin(exact)
        .select(col("exact_click_only"),
          (abs(col("est_click_only") - col("exact_click_only")) * lit(20L) <=
            col("exact_click_only")).as("within_5pct"))
    },
    Some("""
      WITH k AS (
        SELECT event_type,
               user_id * 1048576 + epoch_us(ts) // 86400000000 AS uk
        FROM events WHERE event_type IN ('click', 'purchase'))
      SELECT (SELECT count(*) FROM
               (SELECT DISTINCT uk FROM k WHERE event_type = 'click'
                EXCEPT
                SELECT DISTINCT uk FROM k WHERE event_type = 'purchase'))::BIGINT
               AS exact_click_only,
             TRUE AS within_5pct"""))

  /** Theta sketches maintained INSIDE Structured Streaming state — the
    * per-hour distinct-user sketch as a live, incrementally-updated
    * aggregate (the 100 TB dashboard shape: 4 KB of mergeable state per
    * window, updated per micro-batch, never a distinct shuffle of the
    * raw stream). Events replay through an in-memory stream in 4 chunks, so
    * each hour's sketch buffer is serialized into the state store and
    * re-merged across batches; the final per-hour ESTIMATES are
    * hash-checked against DuckDB's exact distinct counts — valid because
    * the fixture's per-hour cardinality (≤ 166 at sf0.1) is far below
    * the sketch's k = 4096, so theta stays in exact mode and its
    * retained-set size IS the distinct count, deterministically (at
    * production cardinality this column would be gated with the
    * within-5% pattern of q_sketch_distinct instead). stream_eq_batch
    * additionally witnesses that cross-batch state-store merging
    * produced byte-equivalent estimates to a one-shot batch aggregation
    * of the same data — theta's retained set is a pure function of the
    * input SET (k smallest hashes), so batch/stream equality is exact,
    * not approximate. */
  val sketchStreamExec = Q(
    "stream_sketch_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(Tables.events(s, dir)
        .select(col("ts"), col("user_id"))
        .as[(java.sql.Timestamp, Long)], "stream_sketch_exec")
      val run = StreamFeed.replay(s, "stream_sketch_exec", 8,
          StreamFeed.batches(rows, 4)) { (in, run) =>
        in.toDF("ts", "user_id")
          .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
          .agg(expr("theta_sketch_agg(user_id)").as("sk"))
          .writeStream.format("memory").queryName(run.sink)
          .outputMode("complete").start()
      }
      val streamed = s.table(run.sink).select(col("hour_start"),
        expr("theta_sketch_estimate(sk)").cast("long").as("est_users"))
      val batch = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          expr("theta_sketch_estimate(theta_sketch_agg(user_id))")
            .cast("long").as("batch_est"))
      streamed.join(batch, Seq("hour_start"))
        .select(
          date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("n_exact"), col("est_users"),
          (col("est_users") === col("batch_est")).as("stream_eq_batch"))
        .orderBy("hour_start")
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             count(DISTINCT user_id)::BIGINT AS n_exact,
             count(DISTINCT user_id)::BIGINT AS est_users,
             TRUE AS stream_eq_batch
      FROM events GROUP BY date_trunc('hour', ts) ORDER BY hour_start"""))

  /** A REAL micro-batch `session_window` run in the correctness gate (the
    * sessionization sibling of stream_hourly_exec): events replayed
    * ts-ordered through an in-memory stream in 2 chunks (sessions straddling
    * the boundary prove cross-batch session-window state merging; the
    * entry's wall is per-batch planning overhead, ~1.1 s/batch, so the
    * chunk count is the minimum that still exercises it), and emission
    * happens only when the WATERMARK passes a session's end — so unlike
    * the other exec gates this one exercises the watermark-driven append
    * path. Two far-future sentinel events (user_id = -1, max ts + 4 h /
    * + 8 h against a 1 h lateness + 30 min gap) close every real session
    * with DATA batches — the first advances the watermark past all real
    * session ends, the second's batch emits against it — keeping the
    * engine's no-data flush batches off (they'd add one empty batch per
    * chunk for the same effect). The
    * sentinels' own open session is filtered from the sink. Hash-gated
    * against the SAME
    * DuckDB oracle as the batch q_events_sessions_native — the streaming
    * runtime must land on the identical session set. */
  val eventsSessionsStreamExec = Q(
    "stream_sessions_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(Tables.events(s, dir)
        .select(col("ts"), col("user_id"))
        .as[(java.sql.Timestamp, Long)], "stream_sessions_exec")
        .sortBy(_._1.getTime)
      def sentinel(hours: Int) = (
        new java.sql.Timestamp(rows.last._1.getTime + hours * 3600 * 1000L),
        -1L)
      // the first sentinel advances the watermark past all sessions, the
      // second's batch emits every real session against it
      val run = StreamFeed.replay(s, "stream_sessions_exec", 4,
          StreamFeed.batches(rows, 2) :+ Seq(sentinel(4)) :+ Seq(sentinel(8))) {
        (in, run) =>
          graft.streaming.StreamOps
            .sessionize(in.toDF("ts", "user_id"))
            .writeStream.format("memory").queryName(run.sink)
            .outputMode("append").start()
      }
      s.table(run.sink)
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "sess_start_us")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      s AS (SELECT user_id, event_id, us,
              CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      g AS (SELECT user_id, us,
              sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM s)
      SELECT user_id, min(us) AS sess_start_us, count(*) AS n_events,
             ((max(us) - min(us)) // 100) / 10000.0 AS duration_sec
      FROM g GROUP BY user_id, sess_id
      ORDER BY user_id, sess_start_us"""))

  /** The window funnel under REAL micro-batch execution
    * ([[graft.streaming.StreamOps.funnelStream]]): events replayed
    * ts-ordered in 2 chunks; a user's funnel state accumulates ACROSS
    * batches (step 2/3 events arrive in later micro-batches than the
    * anchor view) and each funnel is finalized only when the WATERMARK
    * closes its 24 h window — the greedy chain then replays the batch
    * operator's decision procedure over the buffered events. Two
    * far-future sentinels of a NON-step type drive the flush (the state
    * function ignores unknown types, so they advance the watermark and
    * leave no state — see the funnelStream scaladoc for why a pre-filter
    * would break exactly this); per-user results aggregate to the same
    * counts row as q_window_funnel — the streaming runtime must land on
    * the batch entry's exact oracle hash. */
  val windowFunnelStreamExec = Q(
    "stream_funnel_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("event_type"))
        .as[(java.sql.Timestamp, Long, String)], "stream_funnel_exec")
        .sortBy(_._1.getTime)
      def sentinel(hours: Int) = (
        new java.sql.Timestamp(rows.last._1.getTime + hours * 3600 * 1000L),
        -1L, "zz_sentinel")
      // sentinel 26 h (24 h window + 1 h lateness + 1 h) advances the
      // watermark past every window; the 27 h one fires the timeouts that emit
      val fed =
        StreamFeed.batches(rows, 2) :+ Seq(sentinel(26)) :+ Seq(sentinel(27))
      val run = StreamFeed.replay(s, "stream_funnel_exec", 4, fed) {
        (in, run) =>
          graft.streaming.StreamOps
            .funnelStream(in.toDF("ts", "user_id", "event_type"),
              steps = Seq("view", "click", "purchase"),
              windowUs = 86400000000L)
            .writeStream.format("memory").queryName(run.sink)
            .outputMode("append").start()
      }
      s.table(run.sink)
        .agg(count(lit(1)).as("n_view"),
          sum(when(col("reached") >= 2, 1L).otherwise(0L)).as("n_click_24h"),
          sum(when(col("reached") >= 3, 1L).otherwise(0L)).as("n_purchase_24h"))
    },
    windowFunnel.oracle)

  /** [[eventsAttribution]] under REAL micro-batch execution — the newest
    * event-analytics operator gets its streaming sibling the day it
    * lands: events replayed ts-ordered in 2 chunks through
    * [[graft.streaming.StreamOps.attributionStream]] (per-user buffered
    * touches + min-purchase anchor, credit finalized when the WATERMARK
    * passes the anchor — users' anchors straddle the chunk boundary, so
    * cross-batch state is exercised), flushed with two far-future
    * sentinel DATA batches (advance + fire, the session/funnel-exec
    * pattern), and the per-touch credit rows aggregated to the SAME
    * (model, channel) grid — the gate lands on the batch entry's exact
    * oracle hash. */
  val attributionStreamExec = Q(
    "stream_attribution_exec",
    (s, dir) => {
      import s.implicits._
      val rows = StreamFeed.collectCapped(Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
        .as[(java.sql.Timestamp, Long, Long, String)],
        "stream_attribution_exec")
        .sortBy(r => (r._1.getTime, r._3))
      def sentinel(hours: Int) = (
        new java.sql.Timestamp(rows.last._1.getTime + hours * 3600 * 1000L),
        -1L, -1L, "zz_sentinel")
      // sentinel 2 h (1 h lateness + margin) advances the watermark past
      // every anchor; the 3 h one fires the timeouts that emit
      val run = StreamFeed.replay(s, "stream_attribution_exec", 4,
          StreamFeed.batches(rows, 2) :+ Seq(sentinel(2)) :+ Seq(sentinel(3))) {
        (in, run) =>
          graft.streaming.StreamOps
            .attributionStream(
              in.toDF("ts", "user_id", "event_id", "event_type"),
              lookbackUs = 7L * 86400000000L)
            .writeStream.format("memory").queryName(run.sink)
            .outputMode("append").start()
      }
      s.table(run.sink)
        .groupBy(col("model"), col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches"), sum("bp").as("credit_bp"))
        .orderBy("model", "channel")
    },
    eventsAttribution.oracle)

  /** The streaming as-of join under REAL micro-batch execution — the last
    * spec-only streaming op gets its driver-checked exec gate: the
    * q_events_asof query (purchase ← latest at-or-before click per user)
    * replayed ts-ordered in 2 chunks through
    * [[graft.streaming.StreamOps.asofStream]] (rights buffer across
    * batches; a left emits only when the watermark proves its right-side
    * history complete), then flushed by two far-future sentinel RIGHT
    * rows on an unused key — rights never emit, so the sentinels advance
    * the watermark and fire the event-time timeouts without adding output
    * rows. Hash-gated against the SAME DuckDB ASOF LEFT JOIN oracle shape
    * as the batch entries (minus the value column the stream op doesn't
    * carry): the streaming runtime must land on the identical match set,
    * null matches included. */
  val asofStreamExec = Q(
    "stream_asof_exec",
    (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("us"), col("event_type"))
      // rights deduped to one per (user, us), as in the batch query; ts is
      // functionally determined by us, so max(ts) is THE group's ts
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("us"))
        .agg(max("event_id").as("id"), max("ts").as("ts"))
        .select(col("user_id").as("key"), col("ts"), col("us"),
          lit(0).as("side"), col("id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"), col("us"),
          lit(1).as("side"), col("event_id").as("id"))
      val rows = StreamFeed.collectCapped(clicks.unionByName(purchases)
        .as[(Long, java.sql.Timestamp, Long, Int, Long)],
        "stream_asof_exec")
        .sortBy(r => (r._3, r._4, r._5))
      def sentinel(hours: Int) = {
        val us = rows.map(_._3).max + hours * 3600000000L
        (-1L, new java.sql.Timestamp(us / 1000L), us, 0, -1L)
      }
      // sentinel 2 h (1 h lateness + margin) advances the watermark past
      // every left; the 3 h one fires the timeouts that emit
      val run = StreamFeed.replay(s, "stream_asof_exec", 4,
          StreamFeed.batches(rows, 2) :+ Seq(sentinel(2)) :+ Seq(sentinel(3))) {
        (in, run) =>
          graft.streaming.StreamOps
            .asofStream(in.toDF("key", "ts", "us", "side", "id"))
            .writeStream.format("memory").queryName(run.sink)
            .outputMode("append").start()
      }
      s.table(run.sink).filter(col("key") >= 0)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("us").as("purchase_us"), col("match_id").as("click_id"),
          col("match_us").as("click_us"),
          (col("us") - col("match_us")).as("lag_us"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
                 FROM events),
      c AS (SELECT user_id, us AS click_us, max(event_id) AS click_id
            FROM e WHERE event_type = 'click' GROUP BY user_id, us),
      p AS (SELECT event_id, user_id, us FROM e
            WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, p.us AS purchase_us,
             c.click_id, c.click_us, p.us - c.click_us AS lag_us
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.us >= c.click_us
      ORDER BY p.event_id"""))

  /** The NATIVE stream-stream interval join under real micro-batch
    * execution ([[graft.streaming.StreamOps.rangeJoinStream]]): the
    * q_events_range_join query (purchases attributed to the signup whose
    * one-hour window contains them) with BOTH sides streaming — signups
    * and purchases replayed as tagged rows of ONE in-memory stream, split
    * by the tag, in 2 time-aligned chunks, so both sides of a chunk land
    * in the same micro-batch (splitting both sides at the same timestamp
    * keeps every cross-batch match inside the join-state horizon: an open
    * window is expired only when the watermark passes
    * `open_ts + window + lateness`, and a later-batch point inside that
    * window is provably newer). Inner-join emission is immediate, so no
    * sentinel flush is needed. Hash-gated against the batch entry's exact
    * oracle — the raw inequality join run in DuckDB. */
  val rangeJoinStreamExec = Q(
    "stream_range_exec",
    (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val signups = StreamFeed.collectCapped(
        e.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[(Long, java.sql.Timestamp, Long)],
        "stream_range_exec signups").sortBy(_._2.getTime)
      val purchases = StreamFeed.collectCapped(
        e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[(Long, java.sql.Timestamp, Long)],
        "stream_range_exec purchases").sortBy(_._2.getTime)
      val allMs = (signups ++ purchases).map(_._2.getTime)
      val midMs = (allMs.min + allMs.max) / 2
      // ONE source of tagged rows, split by the tag: each step lands its
      // purchases and signups in one append, so no micro-batch can start
      // between the two sides of a step
      val steps = Seq[java.sql.Timestamp => Boolean](
          _.getTime <= midMs, _.getTime > midMs).map { inChunk =>
        def tagged(rows: Array[(Long, java.sql.Timestamp, Long)],
            purchase: Boolean) = rows.toSeq.filter(r => inChunk(r._2))
          .map { case (u, t, id) => (purchase, u, t, id) }
        tagged(purchases, purchase = true) ++ tagged(signups, purchase = false)
      }
      val run = StreamFeed.replay(s, "stream_range_exec", 4, steps) {
        (in, run) =>
          val rows = in.toDF("purchase", "user_id", "ts", "id")
          graft.streaming.StreamOps.rangeJoinStream(
              rows.filter(col("purchase"))
                .select(col("user_id"), col("ts"), col("id").as("purchase_id")),
              rows.filter(!col("purchase"))
                .select(col("user_id").as("o_user_id"), col("ts").as("open_ts"),
                  col("id").as("signup_id")))
            .select(col("signup_id"), col("purchase_id"),
              (unix_micros(col("ts")) - unix_micros(col("open_ts")))
                .as("delay_us"))
            .writeStream.format("memory").queryName(run.sink)
            .outputMode("append").start()
      }
      s.table(run.sink).orderBy("signup_id", "purchase_id")
    },
    eventsRangeJoin.oracle)

  def qs: Seq[Q] = Seq(
    q1Agg, joinRevenue, topOrders, eventsHourly, topK,
    eventsHourlyStream, eventsHourlyStreamExec, eventsSessions,
    eventsSessionsNative, eventsAsof,
    eventsAsofBucketed, eventsRangeJoin, q3Shipping, rollupRevenue, distinctAgg,
    sketchDistinct, mergeUpsert, pivotQty, snapshotDiffQ, semiJoinLate,
    custOrderDist, groupingSetsQ, smallQtyRevenue, eventsEnriched,
    trailingWindow, zorderValue, eventsJson, topkPerGroup, setOps,
    sketchRollup, windowFunnel, sketchThetaOverlap, sketchThetaDiff,
    eventsRetention, eventsLtv, eventsRfm, eventsAttribution,
    eventsAttributionDecay,
    eventsAttributionMarkov, eventsPathsTopk, basketLift, basketRules,
    basketStreamExec, funnelTimeToConvert,
    eventsTransitions, eventsAnomaly, eventsAbtest,
    eventsSessionsStreamExec, windowFunnelStreamExec, attributionStreamExec,
    eventsAnomalyStreamExec,
    sketchStreamExec, asofStreamExec, rangeJoinStreamExec)
}
