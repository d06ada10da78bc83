package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{Scratch, Tables}

/** Multi-format ingest for the documents corpus: JSONL and CSV readers
  * with EXPLICIT schemas (schema inference re-reads the data and guesses —
  * never acceptable on a 100 TB crawl; a declared schema makes the scan
  * single-pass and the column pruning static). The reference reads raw
  * document bytes off the filesystem (main.rs:331-334); a Spark pipeline
  * meets text corpora as JSONL/CSV/parquet — this is the format surface.
  *
  * The catalog twins convert the parquet fixture once per JVM, read it
  * back through each format, and gate a content-fidelity aggregate
  * (per-source counts + text digests) against DuckDB reading the ORIGINAL
  * parquet — a corrupted char, lost row, or mis-parsed field changes the
  * hash.
  */
object TextSources {

  val documentsSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  def readJsonl(s: SparkSession, path: String): DataFrame =
    s.read.schema(documentsSchema).json(path)

  def readCsv(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").schema(documentsSchema).csv(path)

  /** Per-JVM conversion of the fixture parquet into the target format,
    * so repeated catalog runs pay the write once. */
  def jsonlFixture(s: SparkSession, dir: String): String =
    Scratch.cached("jsonl", dir) { p =>
      Tables.documents(s, dir).write.mode("overwrite").json(p)
      p
    }

  def csvFixture(s: SparkSession, dir: String): String =
    Scratch.cached("csv", dir) { p =>
      Tables.documents(s, dir).write.mode("overwrite")
        .option("header", "true").csv(p)
      p
    }

  def readOrc(s: SparkSession, path: String): DataFrame =
    s.read.schema(documentsSchema).orc(path)

  def orcFixture(s: SparkSession, dir: String): String =
    Scratch.cached("orc", dir) { p =>
      Tables.documents(s, dir).write.mode("overwrite").orc(p)
      p
    }
}
