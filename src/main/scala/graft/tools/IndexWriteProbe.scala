package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.LshForest

/** Dev tool: break down the LSH index-build cost at scale — routing
  * (bucketTable) vs shuffle+sort vs parquet write — to target the right
  * stage. Usage: IndexWriteProbe [n]. */
object IndexWriteProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 1600000
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val vecs = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => (
        (pmod(xxhash64(col("id") % 1000, j), lit(1000)) / lit(250.0) - 2.0) +
          (pmod(xxhash64(col("id"), j), lit(1000)) / lit(1000.0) - 0.5)
      ).cast("float")).as("embedding"))
      .cache()
    vecs.count()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    val model = time("build")(LshForest.build(vecs))
    time("route_only")(
      LshForest.bucketTable(vecs, model).count())
    time("write_current")(
      LshForest.writeIndex(vecs, model, graft.core.Scratch.dir(s"iwp_cur_$n")))
    spark.stop()
  }
}
