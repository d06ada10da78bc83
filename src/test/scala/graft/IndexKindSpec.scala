package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexKind

/** Every index kind ends in one exact-rerank scoring tail
  * (`SimSearch.rerankPairs`), and `ZebraEngine` resolves the configured
  * kind name in one place; every lifecycle step then dispatches on the
  * resolved [[IndexKind]]. */
class IndexKindSpec extends AnyFunSuite {

  private def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
    if (f.isDirectory) sources(f)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def occurrences(text: String, s: String): Int =
    text.sliding(s.length).count(_ == s)

  test("src/main scores an exact rerank only in SimSearch, in one place") {
    val files = sources(new File("src/main/scala"))
    assert(files.length > 50, "main sources not found")
    val tails = Seq("""metric(col("q_emb"), col("v_emb"))""", """.as("v_emb")""")
    val found = files.flatMap { f =>
      val text = Files.readString(f.toPath)
      tails.map(t => (f.getName, t, occurrences(text, t))).filter(_._3 > 0)
    }
    assert(found.toSet == tails.map(t => ("SimSearch.scala", t, 1)).toSet,
      s"exact-rerank tails outside SimSearch's one: $found")
  }

  test("ZebraEngine names each index kind once and never matches on indexKind") {
    val text = Files.readString(
      new File("src/main/scala/graft/engine/ZebraEngine.scala").toPath)
    assert(IndexKind.byName.keySet == Set("lsh", "ivfpq", "sq8", "pq"))
    IndexKind.byName.keys.foreach { name =>
      assert(occurrences(text, "\"" + name + "\"") == 1,
        s"the kind name \"$name\" is spelled out more than once")
    }
    assert("""indexKind\s*(match|==|!=)""".r.findFirstIn(text).isEmpty,
      "a branch on the indexKind string")
  }
}
