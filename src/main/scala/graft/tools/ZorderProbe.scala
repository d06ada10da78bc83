package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Layout

/** Dev tool: measure what Z-order clustering buys a 2-D box predicate
  * vs a linear sort. Synthesizes n rows with two independent uniform
  * dims (x, y in [0, 4096)), writes the table twice — sorted by x, and
  * Z-ordered on (x, y) — then runs the same box count on both and
  * reports the SCAN's output-row metric: the rows that survived parquet
  * row-group pruning, i.e. what the executors actually had to read and
  * filter. Equal results, very different I/O.
  *
  *   tools/run.sh graft.tools.ZorderProbe 4000000
  */
object ZorderProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 4000000L
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val data = spark.range(n).select(
      (xxhash64(col("id"), lit(1)) % 4096).as("x"),
      (xxhash64(col("id"), lit(2)) % 4096).as("y"),
      col("id").as("payload"))
      .withColumn("x", abs(col("x"))).withColumn("y", abs(col("y")))
    val linPath = graft.core.Scratch.dir(s"zorder_lin_$n")
    val zPath = graft.core.Scratch.dir(s"zorder_z_$n")
    val files = 64
    // small row groups (64 KB ≈ 2.5k rows) give BOTH layouts the same
    // sub-file pruning granularity, scaled so one row group's z-region is
    // comparable to the query box — the proportionality that holds at any
    // absolute scale (at 100 TB the same ratio appears with 128 MB row
    // groups and correspondingly larger boxes/row density). The
    // comparison isolates the ORDERING, not the file size.
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 65536)
    data.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linPath)
    Layout.zorderWrite(data, zPath, "x", "y", numFiles = files, bits = 12)

    // AQE wraps the plan and hides leaf metrics behind the adaptive node;
    // the probe reads the raw scan's numOutputRows, so turn it off here
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def boxCount(path: String, x0: Int, y0: Int, side: Int): (Long, Long) = {
      val df = spark.read.parquet(path)
        .filter(col("x").between(x0, x0 + side) &&
          col("y").between(y0, y0 + side))
      // collect() (not count()) so the metrics populate on THIS plan —
      // count() compiles its own aggregate execution
      val cnt = df.collect().length.toLong
      val scanned = df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      (cnt, scanned)
    }

    // 20 seeded random 100x100 boxes: single boxes are at the mercy of
    // quad-boundary alignment (a box straddling x=1024 touches many
    // distant z-runs — the curve's documented worst case); the AVERAGE is
    // what a workload sees.
    val rng = new scala.util.Random(7)
    val boxes = Seq.fill(20)((rng.nextInt(3900), rng.nextInt(3900)))
    var (mLin, mZ, sLin, sZ) = (0L, 0L, 0L, 0L)
    val t0 = System.nanoTime()
    boxes.foreach { case (x0, y0) =>
      val (c, s) = boxCount(linPath, x0, y0, 100); mLin += c; sLin += s
    }
    val tLin = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    boxes.foreach { case (x0, y0) =>
      val (c, s) = boxCount(zPath, x0, y0, 100); mZ += c; sZ += s
    }
    val tZ = (System.nanoTime() - t1) / 1e9
    println(f"n=$n 20 random 100x100 boxes: matches lin=$mLin z=$mZ")
    println(f"linear : scan-output rows=$sLin%,d  wall=$tLin%.2fs")
    println(f"zorder : scan-output rows=$sZ%,d  wall=$tZ%.2fs")
    println(f"scan reduction: ${sLin.toDouble / math.max(1, sZ)}%.1fx")
    assert(mLin == mZ, "layouts must return identical results")
    spark.stop()
  }
}
