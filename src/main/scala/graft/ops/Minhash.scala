package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** The MinHash signature kernel shared by the batch banding pipeline
  * (`DedupQueries.bandsOf`) and the streaming near-dup detector
  * (`StreamOps.nearDupPairsStream`): sig[j-1] = min over word-3-gram
  * shingles of md5(j || '|' || shingle), as 32-char lowercase hex.
  *
  * Computed in ONE tight JVM loop per row instead of the declarative
  * explode → md5 → groupBy-min form: the HOF equivalent
  * (transform/array_min) evaluates interpreted (the known non-codegen
  * tax, SURVEY §8.2, measured 5× slower), and the explode form pays a
  * |shingles|·nPerms row blow-up plus two aggregation shuffles for a
  * result a per-row fold produces with zero shuffles. Byte-identical to
  * both: duplicates in the sliding shingle stream cannot change a min, so
  * the batch side's DISTINCT is also unnecessary — every consumer's
  * DuckDB oracle hash is the cross-engine parity proof.
  *
  * Tokenization contract (must match `DedupQueries.shingleCol` and the
  * oracles 1:1): lowercase, split on the literal space KEEPING trailing
  * empties (Spark's `split` default), 3-word shingles, whole-text shingle
  * for docs under 3 words. */
object Minhash {

  /** UDF: text → nPerms-entry signature (array of 32-char hex strings).
    *
    * r15 optimization round, per-task-work pass (guide §1.2 step 2): the
    * first cut built `j + "|" + shingle` as a STRING and re-encoded it
    * UTF-8 for every (shingle, permutation), hex-rendered every digest,
    * and min-compared the hex STRINGS — 3 allocations and a full-shingle
    * byte copy per digest, nPerms times per shingle, plus nothing skipping
    * duplicate shingles (a duplicate can never change a min — the same
    * argument that dropped the batch DISTINCT). Now: the shingle encodes
    * once, the per-permutation `"j|"` prefixes are constants, duplicates
    * skip via an in-row set, digests min-compare as UNSIGNED BYTES
    * (lexicographic hex order ≡ unsigned byte order, so the min is the
    * same record), and only the nPerms FINAL minima hex-render. Output is
    * byte-identical (DedupSpec pins the old form; every consumer's DuckDB
    * oracle hash is unchanged). Measured ~2× on the signature pass
    * (stream_neardup_exec task time 25–29 s → 13–16 s at sf0.1). */
  def signatureUdf(nPerms: Int): UserDefinedFunction = {
    val prefixes =
      Array.tabulate(nPerms)(j => s"${j + 1}|".getBytes("UTF-8"))
    udf { (text: String) =>
      val mins = minhashDigests(text, nPerms, prefixes)
      val hexd = "0123456789abcdef".toCharArray
      mins.toSeq.map { d =>
        val out = new Array[Char](32)
        var i = 0
        while (i < 16) {
          out(2 * i) = hexd((d(i) >> 4) & 0xf)
          out(2 * i + 1) = hexd(d(i) & 0xf)
          i += 1
        }
        new String(out)
      }
    }
  }

  /** The md5-family minima as RAW digests — the shared loop behind
    * [[signatureUdf]] (which hex-renders them) and [[signatureBinaryUdf]]
    * (which concatenates them verbatim). */
  private def minhashDigests(
      text: String, nPerms: Int,
      prefixes: Array[Array[Byte]]): Array[Array[Byte]] = {
    val w = Option(text).getOrElse("").toLowerCase.split(" ", -1)
    val shingles: Iterator[String] =
      if (w.length >= 3) w.sliding(3).map(_.mkString(" "))
      else Iterator(w.mkString(" "))
    val mins = new Array[Array[Byte]](nPerms)
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[String]()
    shingles.foreach { sh =>
      if (seen.size >= SeenCap || seen.add(sh)) {
        val shB = sh.getBytes("UTF-8")
        var j = 0
        while (j < nPerms) {
          md.reset()
          md.update(prefixes(j))
          md.update(shB)
          val d = md.digest()
          if (mins(j) == null || unsignedLess(d, mins(j))) mins(j) = d
          j += 1
        }
      }
    }
    mins
  }

  /** Bytes per signature entry on the binary wire format, per family. */
  private[graft] val Md5EntryBytes = 16
  private[graft] val AffineEntryBytes = 4

  /** UDF: text → ONE flat binary cell of nPerms·16 bytes — the md5-family
    * signature with entry j at bytes [16j, 16j+16), raw digests in
    * permutation order. The streaming near-dup path's wire/state format
    * (r16 optimization round, guide §2.3 shuffle-fewer-bytes): its
    * consumers only test ENTRY EQUALITY, and raw-digest equality ≡
    * hex-rendering equality, so carrying 32-char hex strings (512 B + one
    * array cell per entry) through the band fan-out shuffle and the
    * RocksDB state was pure encoding overhead — the flat cell is 256 B
    * with a single offset. Hex render skipped entirely (it existed only
    * to feed string consumers). */
  def signatureBinaryUdf(nPerms: Int): UserDefinedFunction = {
    val prefixes =
      Array.tabulate(nPerms)(j => s"${j + 1}|".getBytes("UTF-8"))
    udf { (text: String) =>
      val mins = minhashDigests(text, nPerms, prefixes)
      val out = new Array[Byte](nPerms * Md5EntryBytes)
      var j = 0
      while (j < nPerms) {
        System.arraycopy(mins(j), 0, out, Md5EntryBytes * j, Md5EntryBytes)
        j += 1
      }
      out
    }
  }

  /** UDF: text → ONE flat binary cell of nPerms·4 bytes — the affine
    * signature with entry j big-endian at bytes [4j, 4j+4). Values are
    * < 2³¹−1 ([[AffineP]]), so the 4-byte encoding is injective: entry
    * equality ≡ BIGINT equality ≡ the decimal rendering the batch oracle
    * replays. Same wire-format rationale as [[signatureBinaryUdf]];
    * decimal strings (≤10 chars + per-element array cell) shrink to 4
    * fixed bytes. */
  def signatureAffineBinaryUdf(nPerms: Int): UserDefinedFunction = {
    val as = affineCoeffs(nPerms).map(_._1).toArray
    val bs = affineCoeffs(nPerms).map(_._2).toArray
    udf { (text: String) =>
      val sig = signatureAffine(text, nPerms, as, bs)
      val out = new Array[Byte](nPerms * AffineEntryBytes)
      var j = 0
      while (j < nPerms) {
        val v = sig(j)
        out(4 * j) = (v >>> 24).toByte
        out(4 * j + 1) = (v >>> 16).toByte
        out(4 * j + 2) = (v >>> 8).toByte
        out(4 * j + 3) = v.toByte
        j += 1
      }
      out
    }
  }

  /** Unsigned lexicographic byte compare — the digest order that renders
    * to the same order as comparing the 32-char hex strings. */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean =
    java.util.Arrays.compareUnsigned(a, b) < 0

  /** Cap on the duplicate-shingle skip set: past this many RETAINED
    * unique shingles the set stops growing and later shingles hash
    * unconditionally — hashing a duplicate cannot change a min, so the
    * cap trades redundant digests for bounded per-row auxiliary memory
    * (an uncapped multi-MB document would otherwise pin ~its whole
    * token stream in the set for the row's lifetime). */
  private val SeenCap = 1 << 16

  /** Band hashes over a signature column: array of nPerms/bandRows md5s,
    * band b = md5(concat of sig entries [b·bandRows+1 .. (b+1)·bandRows])
    * — the same construction as the declarative
    * md5(array_join(collect_list-in-j-order)) form. */
  def bandHashes(sig: Column, nPerms: Int, bandRows: Int): Column = {
    require(nPerms % bandRows == 0, "bands must tile the signature")
    transform(sequence(lit(0), lit(nPerms / bandRows - 1)),
      b => md5(array_join(
        slice(sig, b * lit(bandRows) + lit(1), lit(bandRows)), "")
        .cast("binary")))
  }

  /** Modulus of the affine permutation family: the Mersenne prime 2³¹−1.
    * Small enough that a·h + b stays under 2⁶² — plain BIGINT arithmetic
    * with no overflow on either engine (DuckDB BIGINT multiply ERRORS on
    * overflow rather than wrapping, so a 64-bit-state hash family is not
    * SQL-replayable there). */
  private[graft] val AffineP = 2147483647L

  /** Fixed (a_j, b_j) coefficients of the affine family, derived from two
    * public 32-bit hash primes — plain constants both the kernel and the
    * SQL oracle embed literally. */
  private[graft] def affineCoeffs(nPerms: Int): Seq[(Long, Long)] =
    (1 to nPerms).map { j =>
      val a = (j * 2654435761L) % AffineP
      val b = (j * 2246822519L) % AffineP
      require(a != 0L, s"degenerate multiplier for permutation $j")
      (a, b)
    }

  /** The SQL VALUES list `(j, a, b), …` the DuckDB oracle replays
    * [[signatureAffineUdf]] with. */
  private[graft] def affineCoeffsSql(nPerms: Int): String =
    affineCoeffs(nPerms).zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, $a, $b)" }.mkString(", ")

  /** The CHEAP signature family — the 100 TB cost lever on the near-dup
    * pipeline. [[signatureUdf]] spends nPerms MD5 digests per shingle
    * (crypto-bound: ~16 digests × ~entire text length each); this family
    * spends ONE digest per DISTINCT shingle and derives all nPerms
    * permutations with an affine universal-hash map (Broder/Carter-Wegman):
    *
    *   h1(shingle) = (hex chars 1–15 of md5(shingle))  mod p,  p = 2³¹−1
    *   h2(shingle) = (hex chars 16–30 of md5(shingle)) mod p
    *   perm_j      = (a_j · h1 + b_j) mod p   for j ≤ nPerms/2
    *                 (a_j · h2 + b_j) mod p   for j > nPerms/2
    *   sig[j-1]    = min over shingles of perm_j        (a BIGINT)
    *
    * Everything after the digest is a multiply-add — the signature pass
    * drops from nPerms digests to one per shingle (measured severalfold by
    * the deleted DedupScaleProbe's `sigkernel` leg, figures in PROBES.md).
    * TWO independent 60-bit folds of the SAME digest seed the family (the
    * digest has 32 hex chars; one fold only spends 15): with a single base
    * hash, whether a near-dup pair's differing shingle wins the min is
    * correlated across ALL permutations, and the
    * decontam probe measured that correlation as a deterministic ~1%
    * banding miss at J ≈ 0.97 vs the md5 family's ~0%; splitting the
    * bands across two independent folds squares the correlated-miss
    * probability at zero extra digest cost. The 60-bit truncation keeps
    * each hex→integer fold inside BIGINT range on the DuckDB side
    * (15 nibbles × 16-powers sums < 2⁶³), so the whole family stays a
    * pure-SQL cross-engine replay. xxhash64 — the obvious digestless
    * candidate, built into Spark — is NOT in DuckDB 1.0.0 (the driver's
    * oracle engine), hence md5-seeded.
    *
    * Same tokenization contract as [[signatureUdf]]; the in-row HashSet
    * skips repeat shingles (a duplicate can never change a min — the same
    * argument that let the batch pipeline drop its DISTINCT). */
  def signatureAffineUdf(nPerms: Int): UserDefinedFunction = {
    val as = affineCoeffs(nPerms).map(_._1).toArray
    val bs = affineCoeffs(nPerms).map(_._2).toArray
    udf { (text: String) => signatureAffine(text, nPerms, as, bs).toSeq }
  }

  /** Scala-side DISTINCT shingle set under the same tokenization
    * contract as [[signatureUdf]] — for driver/stream-side exact-Jaccard
    * verification against a broadcast benchmark. */
  private[graft] def shingleSet(text: String): Set[String] = {
    val w = Option(text).getOrElse("").toLowerCase.split(" ", -1)
    if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
    else Set(w.mkString(" "))
  }

  /** Scala-side affine signature (the [[signatureAffineUdf]] body — the
    * UDF delegates here so the two can never drift). */
  private[graft] def signatureAffine(
      text: String, nPerms: Int,
      as: Array[Long], bs: Array[Long]): Array[Long] = {
    val w = Option(text).getOrElse("").toLowerCase.split(" ", -1)
    val shingles: Iterator[String] =
      if (w.length >= 3) w.sliding(3).map(_.mkString(" "))
      else Iterator(w.mkString(" "))
    val mins = Array.fill(nPerms)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[String]()
    val half = nPerms / 2
    shingles.foreach { sh =>
      if (seen.size >= SeenCap || seen.add(sh)) {
        val d = md.digest(sh.getBytes("UTF-8"))
        var v = 0L
        var i = 0
        while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
        v = (v << 4) | ((d(7) >> 4) & 0xfL) // hex chars 1-15 = 60 bits
        val h1 = v % AffineP
        var v2 = (d(7) & 0xfL) // hex char 16
        i = 8
        while (i < 15) { v2 = (v2 << 8) | (d(i) & 0xffL); i += 1 }
        val h2 = v2 % AffineP // hex chars 16-30 = 60 bits
        var j = 0
        while (j < nPerms) {
          val h = if (j < half) h1 else h2
          val pj = (as(j) * h + bs(j)) % AffineP
          if (pj < mins(j)) mins(j) = pj
          j += 1
        }
      }
    }
    mins
  }

  /** Scala-side band keys of an affine signature (decimal ','-joined —
    * identical rendering to [[bandKeysAffine]]). */
  private[graft] def bandKeysAffineScala(
      sig: Array[Long], bandRows: Int): Array[String] =
    Array.tabulate(sig.length / bandRows)(b =>
      sig.slice(b * bandRows, b * bandRows + bandRows).mkString(","))

  /** Band keys over an affine (BIGINT) signature: band b = the bandRows
    * consecutive entries joined with ',' — decimal-rendered identically by
    * both engines, so no second digest is spent on the band key. */
  def bandKeysAffine(sig: Column, nPerms: Int, bandRows: Int): Column = {
    require(nPerms % bandRows == 0, "bands must tile the signature")
    transform(sequence(lit(0), lit(nPerms / bandRows - 1)),
      b => array_join(
        slice(sig, b * lit(bandRows) + lit(1), lit(bandRows))
          .cast("array<string>"), ","))
  }

  /** Bucket keys over a FLAT binary signature ([[signatureBinaryUdf]] /
    * [[signatureAffineBinaryUdf]] output): band b covers the byte slice
    * [b·bandRows·entryBytes, (b+1)·bandRows·entryBytes), and the key is
    * `"<band_id>|<key>"` where for the md5 family (entryBytes 16) the
    * 64-byte slice md5-hashes down and base64-renders (24 chars — the
    * same md5-collision-equivalence class as the batch pipeline's
    * hex-concat construction), while the affine family's 16-byte slice
    * base64-renders AS the key (collision-free — exactly the information
    * the decimal-joined key carried). Key equality ≡ the string-family
    * keys' equality, so the streaming candidate structure (and every
    * consumer gate's oracle hash) is unchanged; the bytes shuffled and
    * stored per key shrink. All built-in, codegen-friendly expressions. */
  def bucketKeysBinary(
      sig: Column, nPerms: Int, bandRows: Int, entryBytes: Int): Column = {
    require(nPerms % bandRows == 0, "bands must tile the signature")
    val w = bandRows * entryBytes
    transform(sequence(lit(0), lit(nPerms / bandRows - 1)), b => {
      val bandSlice = sig.substr(b * lit(w) + lit(1), lit(w))
      val key =
        if (entryBytes == Md5EntryBytes) base64(unhex(md5(bandSlice)))
        else base64(bandSlice)
      concat(b.cast("string"), lit("|"), key)
    })
  }
}
