package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.FixtureStamp

class FixtureStampSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a dir probed before it exists gets a content stamp once it does") {
    val parent = Files.createTempDirectory("graft_stamp")
    val dir = parent.resolve("fixture")
    try {
      assert(FixtureStamp.of(spark, dir.toString) == "absent")
      Files.createDirectory(dir)
      Files.write(dir.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      val stamp = FixtureStamp.of(spark, dir.toString)
      assert(stamp.matches("[0-9a-f]{12}"), s"stamp '$stamp'")
      // memoized from here on: the same stamp without a new listing
      Files.write(dir.resolve("part-1.parquet"), Array[Byte](4))
      assert(FixtureStamp.of(spark, dir.toString) == stamp)
    } finally {
      Files.deleteIfExists(dir.resolve("part-0.parquet"))
      Files.deleteIfExists(dir.resolve("part-1.parquet"))
      Files.deleteIfExists(dir)
      Files.deleteIfExists(parent)
    }
  }
}
