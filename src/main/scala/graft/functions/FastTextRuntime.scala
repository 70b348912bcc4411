package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static runtime for the FastText expressions: one JVM method per
  * operation, shared verbatim by interpreted eval AND generated code
  * (doGenCode emits a single static call, so whole-stage codegen spans
  * stay unbroken). Top-level object → static forwarders callable from
  * Janino-compiled Java.
  */
object FastTextRuntime {

  private val P = TextHash.P

  // SimHash per-token bit grid: 64 universal-hash rows over the
  // engine-neutral charPoly31 token hash (bit b = LSB of (a_b·h + b_b)
  // mod P). Shared with the TextHash HOF form AND the DuckDB oracle
  // replay — which is what upgrades d03 from rows-only to a full
  // cross-engine hash check.
  private val (simA, simB) = {
    val (a, b) = TextHash.simPerms
    (a.toArray, b.toArray)
  }

  /** Spark's split(text, " ") semantics: Java regex split, limit -1. */
  private def tokens(text: UTF8String): Array[String] =
    text.toString.split(" ", -1)

  /** Shingle hashes on the engine-neutral charPoly31 (values < P by
    * construction — no extra mod needed). Any engine with a list fold
    * replays these verbatim, so the whole minhash family (d02/d04/
    * d07/d14/d15/x07) carries a full DuckDB oracle.
    */
  private def hash31OfShingles(text: UTF8String, n: Int): Array[Long] = {
    val toks = tokens(text)
    if (toks.length < n) return Array.emptyLongArray
    val out = new Array[Long](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      out(i) = charPoly31(sb)
      i += 1
    }
    out
  }

  def minhashSig(text: UTF8String, shingleN: Int,
      as: Array[Long], bs: Array[Long]): ArrayData = {
    val hashes = hash31OfShingles(text, shingleN)
    val sig = new Array[Long](as.length)
    var i = 0
    while (i < as.length) {
      var best = P
      val a = as(i); val b = bs(i)
      var k = 0
      while (k < hashes.length) {
        val v = java.lang.Math.floorMod(a * hashes(k) + b, P)
        if (v < best) best = v
        k += 1
      }
      sig(i) = best; i += 1
    }
    new GenericArrayData(sig)
  }

  def simhash64(text: UTF8String): Long = {
    val toks = tokens(text)
    val votes = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = charPoly31(toks(t))
      var b = 0
      while (b < 64) {
        if ((java.lang.Math.floorMod(simA(b) * h + simB(b), P) & 1L) == 1L)
          votes(b) += 1
        else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Engine-neutral 31-bit string hash: polynomial over the string's
    * UTF-16 code units, h = (h·131 + c) mod P. Unlike xxhash64 this is
    * computable verbatim in any engine with a list fold (DuckDB:
    * list_reduce over ord(substr(…))) — which is what lets the
    * fingerprint operators carry a full cross-engine oracle. Code
    * units equal code points on ASCII/BMP text; the corpus contract is
    * documented at the operator.
    */
  private def charPoly31(s: java.lang.CharSequence): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = java.lang.Math.floorMod(h * 131L + s.charAt(i).toLong, P)
      i += 1
    }
    h
  }

  /** Public single-string charPoly31 (the FastText.CharPoly31 runtime):
    * one tight loop instead of the interpreted HOF fold — the same
    * ~100× win as the other native expressions, which is what keeps
    * per-row hashing (KMV keys, discovery sketches) inside the 2 s
    * bench bar at sf0.1.
    */
  def charPoly31Of(s: UTF8String): Long = charPoly31(s.toString)

  def rollingFp(text: UTF8String): Long = {
    val toks = tokens(text)
    var acc = 0L
    var t = 0
    while (t < toks.length) {
      acc = java.lang.Math.floorMod(acc * 31L + charPoly31(toks(t)), P)
      t += 1
    }
    acc
  }

  def shingleMin31(text: UTF8String, shingleN: Int): Long = {
    val toks = tokens(text)
    if (toks.length < shingleN) return P
    var best = P
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - shingleN) {
      sb.setLength(0)
      var j = 0
      while (j < shingleN) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      val h = charPoly31(sb)
      if (h < best) best = h
      i += 1
    }
    best
  }

  def distinctShingles(text: UTF8String, shingleN: Int): ArrayData = {
    val toks = tokens(text)
    if (toks.length < shingleN) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - shingleN) {
      sb.setLength(0)
      var j = 0
      while (j < shingleN) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** (term, tf) per distinct split(text, " ") token, in first-occurrence
    * order — a document's term frequencies without a shuffle.
    */
  def termCounts(text: UTF8String): ArrayData = {
    val counts = new java.util.LinkedHashMap[String, Array[Long]]()
    for (t <- tokens(text)) {
      val c = counts.get(t)
      if (c == null) counts.put(t, Array(1L)) else c(0) += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** langs/profiles flattened: langs(i) owns profiles(i). Returns the
    * argmax (score, lang) with array_max tie-break semantics
    * (lexicographically larger lang wins equal scores).
    */
  def langScore(text: UTF8String, langs: Array[UTF8String],
      profiles: Array[Array[String]]): InternalRow = {
    val s = text.toString
    val bigrams = new java.util.HashSet[String]()
    val upper = math.max(s.length - 1, 1)
    var i = 0
    while (i < upper) {
      bigrams.add(s.substring(i, math.min(i + 2, s.length)))
      i += 1
    }
    var bestScore = -1.0
    var bestLang: UTF8String = null
    var p = 0
    while (p < langs.length) {
      val prof = profiles(p)
      var hits = 0
      var k = 0
      while (k < prof.length) {
        if (bigrams.contains(prof(k))) hits += 1
        k += 1
      }
      val score = hits.toDouble / prof.length
      if (score > bestScore ||
          (score == bestScore && langs(p).compareTo(bestLang) > 0)) {
        bestScore = score; bestLang = langs(p)
      }
      p += 1
    }
    InternalRow(bestScore, bestLang)
  }
}
