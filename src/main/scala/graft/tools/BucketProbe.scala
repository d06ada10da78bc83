package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: prove out bucketed co-located joins — the storage-layout
  * lever for repeated fact-to-fact joins at 100 TB. Both sides are
  * written `bucketBy(B, key)`; Spark's bucketed scan then reports the
  * hash-partitioning the sort-merge join requires, so the join plans
  * with ZERO Exchange operators — the shuffle happened once at write
  * time and is amortized over every subsequent join. The probe writes
  * two n-row tables bucketed by user_id, joins them, asserts the no-
  * shuffle plan shape, and times it against the same join on plain
  * (shuffle-at-read) parquet.
  *
  *   tools/run.sh graft.tools.BucketProbe 4000000
  */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 1000000
    val users = math.max(n / 100, 1)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir", graft.core.Scratch.dir("warehouse"))
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def synth(salt: Int) = spark.range(n).select(
      col("id").as(s"id_$salt"),
      pmod(xxhash64(col("id"), lit(salt)), lit(users)).as("user_id"),
      md5(concat(col("id").cast("string"), lit(salt.toString))).as(s"v_$salt"))

    for (t <- Seq("graft_bl", "graft_br")) spark.sql(s"DROP TABLE IF EXISTS $t")
    synth(1).write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("graft_bl")
    synth(2).write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("graft_br")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val bl = spark.table("graft_bl")
    val br = spark.table("graft_br")
    val bucketed = bl.join(br, Seq("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("pairs"))
    val (nB, tB) = time(bucketed.collect().length)
    val plan = bucketed.queryExecution.executedPlan.toString
    // the ONLY exchange allowed is none at all: bucketed scans satisfy the
    // join's distribution, and the groupBy rides the same partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length

    // same join on plain parquet: shuffles both sides at read time
    val (plainL, plainR) =
      (graft.core.Scratch.dir("plain_l"), graft.core.Scratch.dir("plain_r"))
    synth(1).write.mode("overwrite").parquet(plainL)
    synth(2).write.mode("overwrite").parquet(plainR)
    val pl = spark.read.parquet(plainL)
    val pr = spark.read.parquet(plainR)
    val plain = pl.join(pr, Seq("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("pairs"))
    val (nP, tP) = time(plain.collect().length)

    println(s"""{"probe":"bucketed_join","n_per_side":$n,"buckets":8,""" +
      s""""bucketed_groups":$nB,"bucketed_sec":$tB,"exchanges_in_plan":$exchanges,""" +
      s""""plain_groups":$nP,"plain_sec":$tP}""")
    spark.stop()
  }
}
