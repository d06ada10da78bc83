package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{DedupQueries, EngineQueries, IndexQueries}
import graft.core.Scratch
import graft.sources.TextSources

/** The per-JVM scratch root: the build caches live under it, a build runs
  * once per (name, fixture dir), reaping removes only dead JVMs' roots,
  * and no other main source names a /tmp path. */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val fixture = SparkTestBase.sf0001
  private val own = s"/tmp/graft/pid_${ProcessHandle.current().pid()}/"

  private def localPath(f: String): String = new java.net.URI(f).getPath

  test("the build caches read their files from under this JVM's root") {
    val read = Seq(
      "GroundTruthCache" -> IndexQueries.GroundTruthCache.topK10(spark, fixture)
        .inputFiles.toSeq,
      "PairsCache" -> DedupQueries.PairsCache.get(spark, fixture).inputFiles.toSeq,
      "Sq.Cache" -> graft.ops.Sq.Cache.ensure(spark, fixture)._1.inputFiles.toSeq,
      "jsonlFixture" -> TextSources.readJsonl(
        spark, TextSources.jsonlFixture(spark, fixture)).inputFiles.toSeq,
      "EngineCache" -> Seq(
        EngineQueries.EngineCache.ensureIndexed(spark, fixture).path))
    read.foreach { case (what, files) =>
      assert(files.nonEmpty, s"$what reads no files")
      files.foreach(f =>
        assert(localPath(f).startsWith(own), s"$what reads $f, not under $own"))
    }
  }

  test("a build runs once per (name, fixture dir) and each dir gets its own path") {
    var builds = 0
    def get(dir: String) = Scratch.cached("scratch_spec", dir) { p => builds += 1; p }
    val a = get("/fixtures/a")
    assert(get("/fixtures/a") == a)
    // sanitized to one string by a path-from-dir scheme: "_fixtures_a"
    val b = get("/fixtures_a")
    assert(builds == 2)
    assert(a != b)
    Seq(a, b).foreach(p => assert(p.startsWith(own), p))
  }

  test("reaping removes dead JVMs' roots and leaves live and legacy dirs alone") {
    // this JVM's first use has reaped already: plant after it
    assert(new File(Scratch.root).isDirectory)
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = new File(s"${Scratch.Base}/pid_${child.pid()}")
    val live = new File(
      s"${Scratch.Base}/pid_${ProcessHandle.current().parent().get().pid()}/lsh_1")
    val legacy = new File("/tmp/graft_lsh/v1_scratch_spec")
    val markers = Seq(new File(dead, "truth_1"), live, legacy).map { d =>
      d.mkdirs()
      Files.writeString(new File(d, "in_flight").toPath, "planted")
    }
    try {
      Scratch.reap()
      assert(!dead.exists(), s"$dead survived")
      markers.tail.foreach(m => assert(Files.exists(m), s"$m was deleted"))
      assert(new File(own).isDirectory, "this JVM's root was reaped")
    } finally {
      markers.foreach(Files.deleteIfExists)
      // the planted dirs and the parents they needed, where left empty
      Seq(new File(dead, "truth_1"), live, legacy).foreach(d =>
        Iterator.iterate(d)(_.getParentFile)
          .takeWhile(_.getPath != "/tmp").foreach(_.delete()))
    }
  }

  test("no main source outside Scratch names a /tmp path or FixtureStamp") {
    val files = Files.walk(new File("src/main/scala").toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.length > 50, "main sources not found")
    val offenders = files
      .filterNot(_.endsWith("graft/core/Scratch.scala"))
      .flatMap { f =>
        val text = Files.readString(f)
        Seq("\"/tmp", "FixtureStamp").filter(text.contains).map(b => s"$f: $b")
      }
    assert(offenders.isEmpty, s"paths outside graft.core.Scratch: $offenders")
  }
}
