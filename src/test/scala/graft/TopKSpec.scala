package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TopK

/** The bounded top-k aggregator's contract: k rows per group, ordered by
  * (dist, id), at most one entry per (dist, id). */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("duplicate (dist, id) rows across and within partitions come out once") {
    import spark.implicits._
    // 3 groups x 20 ids; dist ties on purpose (id / 2), so the id
    // tie-break decides the order inside each tie
    val base = for (g <- 0 until 3; id <- 0L until 20L)
      yield (g, (id / 2).toDouble, id)
    // three equal slices, one partition each: a full copy, another full
    // copy, and the first half twice over (duplicates inside a partition)
    val half = base.take(base.length / 2)
    val rows = spark.sparkContext
      .parallelize(base ++ base ++ half ++ half, numSlices = 3)
      .toDF("g", "dist", "id")
    assert(rows.rdd.getNumPartitions == 3)
    val k = 7
    val got = rows.groupBy("g")
      .agg(TopK.topk[Long](k, col("dist"), col("id")).as("t"))
      .select(col("g"), posexplode(col("t")))
      .select(col("g"), col("pos"), col("col.dist"), col("col.id"))
      .collect()
      .groupBy(_.getInt(0))
    assert(got.keySet == Set(0, 1, 2))
    got.values.foreach { rs =>
      val ranked = rs.sortBy(_.getInt(1)).map(r => (r.getDouble(2), r.getLong(3))).toSeq
      assert(ranked.map(_._2).distinct.length == k, s"an id came out twice: $ranked")
      assert(ranked == (0L until k.toLong).map(id => ((id / 2).toDouble, id)))
    }
  }
}
