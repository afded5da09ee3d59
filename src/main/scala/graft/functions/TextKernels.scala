package graft.functions

import graft.ops.LlmCommon

/** JIT-compiled per-document text kernels for the dedup/sketch family.
  *
  * Deriving a fixed-width signature from one document is purely local
  * imperative work — no aggregation across rows — so the idiomatic Spark
  * shape is a typed `mapPartitions` over `Dataset[(id, text)]` (SURVEY §2.J):
  * map-only, zero shuffle, linear scan at 100 TB. Column-expression
  * formulations of the same math run as interpreted per-element lambdas
  * (Spark's higher-order functions don't participate in codegen) and were
  * measured ~5× slower.
  */
object TextKernels {

  /** Lowercased `\S+` tokens (identical semantics to LlmCommon.tokens). */
  def tokenize(text: String): Array[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** FNV-1a 64 over UTF-8 bytes with a splitmix64 finalizer. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    // splitmix64 finalizer for avalanche
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Sorted distinct 32-bit-ranged hashes of word n-gram shingles.
    * The 32-bit range keeps (a·h + b) inside a signed 64-bit multiply. */
  def shingleHashes(toks: Array[String], n: Int): Array[Long] = {
    if (toks.length < n) return Array.emptyLongArray
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = hash64(sb.toString) & 0xffffffffL
      i += 1
    }
    val distinct = out.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }

  /** Distinct word n-gram shingle STRINGS (insertion order) — the
    * decontamination kernel, where grams must stay oracle-comparable text
    * rather than hashes. Same JIT'd per-doc loop as [[shingleHashes]]. */
  def shingleStrings(toks: Array[String], n: Int): Array[String] = {
    if (toks.length < n) return Array.empty[String]
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** MinHash signature over shingle hashes with the shared (a_i, b_i)
    * universal-hash family. */
  def minhashSig(shs: Array[Long], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sig = Array.fill(as.length)(Long.MaxValue)
    var k = 0
    while (k < shs.length) { minhashUpdate(sig, shs(k), as, bs); k += 1 }
    sig
  }

  /** Fold shingle hash `h` into signature `sig`: each slot keeps the
    * minimum of itself and h_i(h) = (a_i·h + b_i) mod P. */
  def minhashUpdate(sig: Array[Long], h: Long, as: Array[Long],
      bs: Array[Long]): Unit = {
    var i = 0
    while (i < sig.length) {
      val v = (h * as(i) + bs(i)) % LlmCommon.MinhashPrime
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** 64-bit SimHash: sign of per-bit votes over token hashes. */
  def simhash64(toks: Array[String]): Long = {
    val votes = new Array[Int](64)
    var k = 0
    while (k < toks.length) {
      val h = hash64(toks(k))
      var j = 0
      while (j < 64) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      k += 1
    }
    var fp = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }
}
