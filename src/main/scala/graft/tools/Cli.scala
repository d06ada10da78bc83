package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.embed.{AudioSpectrogramEmbedder, Embedder, HashingTextEmbedder, ImageFeatureEmbedder}
import graft.engine.{EngineConfig, IndexKind, ZebraEngine}

/** Terminal previews of query hits — the reference renders result images
  * in the terminal (viuer) and plays audio hits (rodio), main.rs:230-254,
  * 281-299. No display or audio device is assumed here: images render as a
  * coarse ASCII-luminance block, audio as a duration/rate/peak/RMS line. */
private[graft] object HitPreview {
  // ImageNet de-normalization (inverse of E3's load_image224 constants).
  private val Mean = Array(0.485, 0.456, 0.406)
  private val Std = Array(0.229, 0.224, 0.225)
  private val Ramp = " .:-=+*#%@"

  def image(bytes: Array[Byte], cols: Int = 48): String = {
    val t = ImageFeatureEmbedder.loadImage224(bytes)
    if (t == null) return "  (undecodable image)"
    val rows = cols / 2 // terminal cells are ~2x taller than wide
    val sb = new StringBuilder
    var ry = 0
    while (ry < rows) {
      sb.append("  ")
      var rx = 0
      while (rx < cols) {
        val y = ry * 224 / rows
        val x = rx * 224 / cols
        // de-normalize, then BT.601 luma
        val r = t(0)(y)(x) * Std(0) + Mean(0)
        val g = t(1)(y)(x) * Std(1) + Mean(1)
        val b = t(2)(y)(x) * Std(2) + Mean(2)
        val lum = 0.299 * r + 0.587 * g + 0.114 * b
        val idx = math.max(0, math.min(Ramp.length - 1,
          math.round(lum * (Ramp.length - 1)).toInt))
        sb.append(Ramp(idx))
        rx += 1
      }
      sb.append('\n')
      ry += 1
    }
    sb.result()
  }

  def audio(bytes: Array[Byte]): String = {
    val dec = AudioSpectrogramEmbedder.audioToSamples(bytes)
    if (dec == null) return "  (undecodable audio)"
    val (samples, rate) = dec
    var peak = 0.0
    var sumSq = 0.0
    samples.foreach { s =>
      val v = s / 32768.0
      peak = math.max(peak, math.abs(v))
      sumSq += v * v
    }
    val rms = math.sqrt(sumSq / math.max(1, samples.length))
    f"  ${samples.length / rate}%.2f s @ ${rate}%.0f Hz, peak $peak%.3f, rms $rms%.3f"
  }
}

/** CLI driver — the reference's `main.rs` surface (C1–C5, SURVEY.md §2.5):
  * `<modality> insert|insert-from-files|query|clear` against an engine
  * directory. Modalities mirror the reference's defaults
  * (src/database/default/): text = 384-d l2sq, image/audio = 768-d cosine.
  *
  * {{{
  *   graft.tools.Cli text   insert <engine-dir> "some document" ...
  *   graft.tools.Cli text   insert-from-files <engine-dir> <file|dir> ...
  *   graft.tools.Cli text   query  <engine-dir> "query text" [k]
  *   graft.tools.Cli image  insert-from-files <engine-dir> <file|dir> ...
  *   graft.tools.Cli audio  query-from-files <engine-dir> <wav> [k]
  *   graft.tools.Cli <mod>  clear  <engine-dir>
  *   graft.tools.Cli <mod>  maintain <engine-dir>   (compact + vacuum, or retrain)
  * }}}
  */
object Cli {

  private def embedderFor(modality: String): (Embedder, EngineConfig) =
    modality match {
      case "text" => (HashingTextEmbedder(), EngineConfig(dim = 384, metric = "l2sq"))
      case "image" => (ImageFeatureEmbedder(), EngineConfig(dim = 768, metric = "cosine"))
      case "audio" => (AudioSpectrogramEmbedder(), EngineConfig(dim = 768, metric = "cosine"))
      case other => sys.error(s"unknown modality: $other (text|image|audio)")
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: Cli <text|image|audio> <insert|insert-from-files|query|query-from-files|clear|maintain> <engine-dir> [args...]")
      sys.exit(2)
    }
    val Array(modality, cmd, dir) = args.take(3)
    val rest = args.drop(3).toSeq
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (embedder, config) = embedderFor(modality)
    val engine = ZebraEngine.openOrCreate(spark, dir, config)

    val t0 = System.nanoTime()
    cmd match {
      case "insert" => // C1: documents from CLI args (text only)
        val docs = rest.zipWithIndex
          .map { case (t, i) => (f"cli${System.nanoTime()}%x$i%04d", t.getBytes("UTF-8")) }
          .toDF("id", "document")
        engine.insertDocuments(docs, embedder)
        println(s"inserted ${rest.length} documents")

      case "insert-from-files" => // C1/C3/C4: binaryFile source, like the reference's dir walk
        val paths = rest.mkString(",")
        val files = spark.read.format("binaryFile").load(paths)
          .select(col("path").as("id"), col("content").as("document"))
        engine.insertDocuments(files, embedder)
        println(s"inserted ${files.count()} files")

      case "query" => // C2: query strings, k defaults to 1 (reference main.rs:86-87)
        val (texts, k) = rest.lastOption.flatMap(x => scala.util.Try(x.toInt).toOption) match {
          case Some(n) if rest.length > 1 => (rest.dropRight(1), n)
          case _ => (rest, 1)
        }
        val queries = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t.getBytes("UTF-8")) }
          .toDF("query_id", "document")
        engine.queryDocuments(queries, embedder, k)
          .select(col("query_id"), col("id"), col("dist"),
            substring(col("document").cast("string"), 1, 80).as("preview"))
          .orderBy("query_id", "dist")
          .show(100, truncate = false)

      case "query-from-files" => // C3/C4 query with binary inputs
        val (paths, k) = rest.lastOption.flatMap(x => scala.util.Try(x.toInt).toOption) match {
          case Some(n) if rest.length > 1 => (rest.dropRight(1), n)
          case _ => (rest, 1)
        }
        val queries = spark.read.format("binaryFile").load(paths: _*)
          .select(col("path").as("query_id"), col("content").as("document"))
        val res = engine.queryDocuments(queries, embedder, k)
        res.select(col("query_id"), col("id"), col("dist"))
          .orderBy("query_id", "dist")
          .show(100, truncate = false)
        // C3/C4: preview the hits themselves (first few), as the reference
        // does with its terminal image render / audio playback.
        if (modality == "image" || modality == "audio")
          res.select("id", "document").dropDuplicates("id").limit(3)
            .collect().foreach { r =>
              println(s"--- ${r.getString(0)}")
              val doc = r.getAs[Array[Byte]](1)
              println(
                if (modality == "image") HitPreview.image(doc)
                else HitPreview.audio(doc))
            }

      case "clear" => // C5
        engine.clear()
        println("cleared")

      case "maintain" => // beyond-reference: the index maintenance pass a
        // long-lived engine runs between ingest batches, each step
        // reporting what it did. An LSH engine splits its overflowing
        // leaves, then vacuums the dead rows the splits strand. A quantizer
        // engine (ivfpq, sq8, pq) retrains once the corpus has grown 4x
        // past its fit; the retrain rewrites the codes whole, so there is
        // nothing to vacuum.
        if (engine.config.kind == IndexKind.Lsh) {
          val compacted = engine.compactIndexIfNeeded()
          val reclaimed = engine.vacuumIndex()
          println(s"compacted: $compacted, vacuumed: $reclaimed stale rows")
        } else {
          val retrained = engine.retrainIfGrown()
          println(s"retrained: $retrained")
        }

      case other => sys.error(s"unknown command: $other")
    }
    println(f"done in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
