package graft.core

import scala.collection.mutable

/** FSST-style symbol table generalized from bytes to int32 tokens.
  *
  * Up to 255 symbols of 1–8 tokens each; code 255 is the escape marker for a
  * literal (varint-encoded) token. Mirrors the shape the reference relies on
  * (≤255 entries of 1–8 bytes, escape code 255 —
  * /root/reference/src/FsstWrapper.hpp:133, escape handling :93-108), but the
  * construction, layout, and lookup are re-derived for the int-token alphabet
  * (SURVEY.md §2.2): vocab ≫ 255 so escaped literals are varints, not single
  * bytes.
  *
  * Encode is canonical greedy longest-match (ties by lowest code), which makes
  * constant re-encoding sound for equality pushdown (SURVEY.md §2.1 E5 caveat).
  */
final class SymTab(val syms: Array[Array[Int]]) extends Serializable {
  require(syms.length <= SymTab.MaxSymbols, s"too many symbols: ${syms.length}")
  require(syms.forall(s => s.length >= 1 && s.length <= SymTab.MaxSymbolLen))

  val nSymbols: Int = syms.length

  /** One-lookup index for canonical greedy longest-match: everything known
    * about a FIRST token — its single-token code (−1 if none) and its
    * multi-token candidates grouped by SECOND token, longest-first (then
    * lowest code) within a group — lives in one entry, so the encode hot
    * loop pays exactly ONE hash probe per position (the round-3 two-level
    * pair/single split paid two on every non-pair position, which escape-
    * heavy sources hit for ~half their tokens). Second tokens per entry are
    * a tiny array scanned linearly — ≤255 symbols total keeps groups at a
    * handful of elements, and the scan is cache-resident where a second
    * hash probe is not.
    */
  private final class FirstEntry(val singleCode: Int, val seconds: Array[Int],
                                 val candOff: Array[Int], val cands: Array[Int])

  @transient private lazy val firstIndex: mutable.LongMap[FirstEntry] = {
    // codes sorted by first token, code order kept within a first token
    val n = syms.length
    val byFirst = new Array[Long](n)
    var c = 0
    while (c < n) { byFirst(c) = syms(c)(0).toLong << 8 | c; c += 1 }
    java.util.Arrays.sort(byFirst)
    val out = mutable.LongMap.empty[FirstEntry]
    val seconds = new Array[Int](n)
    // multi-token code of this first token: second-token group << 12 |
    // (MaxSymbolLen − length) << 8 | code, so sorting orders each group
    // longest-first, then lowest code
    val packed = new Array[Int](n)
    var i = 0
    while (i < n) {
      val t0 = byFirst(i) >> 8
      var single = -1
      var nSec = 0
      var nMulti = 0
      var j = i
      while (j < n && (byFirst(j) >> 8) == t0) {
        val code = (byFirst(j) & 0xff).toInt
        val s = syms(code)
        if (s.length == 1) { if (single < 0) single = code } // lowest code wins
        else {
          // second-token groups in first-seen order: low (frequent) codes scan first
          var g = 0
          while (g < nSec && seconds(g) != s(1)) g += 1
          if (g == nSec) { seconds(nSec) = s(1); nSec += 1 }
          packed(nMulti) = g << 12 | (SymTab.MaxSymbolLen - s.length) << 8 | code
          nMulti += 1
        }
        j += 1
      }
      if (nMulti == 0) out(t0) = new FirstEntry(single, null, null, null)
      else {
        java.util.Arrays.sort(packed, 0, nMulti)
        val candOff = new Array[Int](nSec + 1)
        val cands = new Array[Int](nMulti)
        var m = 0
        while (m < nMulti) {
          cands(m) = packed(m) & 0xff
          candOff((packed(m) >>> 12) + 1) = m + 1
          m += 1
        }
        out(t0) = new FirstEntry(single, java.util.Arrays.copyOf(seconds, nSec), candOff, cands)
      }
      i = j
    }
    out
  }

  def symbol(code: Int): Array[Int] = syms(code)
  def symLen(code: Int): Int = syms(code).length

  /** code → symbol length as a flat table: one load per byte in the suffix
    * skip loop (vs two dependent loads through syms(code).length).
    */
  @transient lazy val lens: Array[Int] = syms.map(_.length)

  /** Flattened symbol storage for the decode hot loop: symbol c's tokens at
    * flatTokens[flatOffsets(c) until flatOffsets(c+1)) — one indirection and
    * contiguous reads instead of a jagged Array[Array[Int]].
    */
  @transient lazy val (flatTokens, flatOffsets): (Array[Int], Array[Int]) = {
    val off = new Array[Int](syms.length + 1)
    var i = 0
    while (i < syms.length) { off(i + 1) = off(i) + syms(i).length; i += 1 }
    val f = new Array[Int](off(syms.length))
    i = 0
    while (i < syms.length) { System.arraycopy(syms(i), 0, f, off(i), syms(i).length); i += 1 }
    (f, off)
  }

  /** Longest symbol matching tokens[pos until end); -1 if none. One hash
    * probe; multi-token candidates only when the entry has a group for the
    * second token.
    */
  def longestMatch(tokens: Array[Int], pos: Int, end: Int): Int = {
    val e = firstIndex.getOrNull(tokens(pos).toLong)
    if (e == null) return -1
    val seconds = e.seconds
    if (seconds != null && pos + 1 < end) {
      val t1 = tokens(pos + 1)
      var k = 0
      while (k < seconds.length && seconds(k) != t1) k += 1
      if (k < seconds.length) {
        var i = e.candOff(k)
        val lim = e.candOff(k + 1)
        while (i < lim) {
          val c = e.cands(i)
          val s = syms(c)
          val L = s.length
          if (pos + L <= end) {
            var j = 2
            while (j < L && tokens(pos + j) == s(j)) j += 1
            if (j == L) return c
          }
          i += 1
        }
      }
    }
    e.singleCode
  }

  /** Serialized form: [version][nSymbols][per symbol: len, len zigzag tokens].
    * The analog of fsst_export (/root/reference/src/FsstWrapper.cpp:67-75),
    * re-specified for token symbols.
    */
  def toBytes: Array[Byte] = {
    val w = new ByteWriter(64)
    w.writeByte(SymTab.FormatVersion)
    w.writeByte(syms.length)
    var c = 0
    while (c < syms.length) {
      val s = syms(c)
      w.writeByte(s.length)
      var j = 0
      while (j < s.length) { w.writeZigZag(s(j)); j += 1 }
      c += 1
    }
    w.toBytes
  }

  /** Content hash for DFA-cache keying (consecutive chunks in a partition
    * often share a table; SURVEY.md §2.1 K3).
    */
  @transient lazy val contentHash: Long = {
    var h = 0xcbf29ce484222325L
    var c = 0
    while (c < syms.length) {
      val s = syms(c)
      var j = 0
      while (j < s.length) { h = (h ^ s(j)) * 0x100000001b3L; j += 1 }
      h = (h ^ 0x1f) * 0x100000001b3L
      c += 1
    }
    h
  }
}

object SymTab {
  val MaxSymbols = 255        // codes 0..254; 255 = escape
  val MaxSymbolLen = 8        // symbols are 1–8 tokens (north_star)
  val EscapeCode = 255
  val FormatVersion = 1

  val empty = new SymTab(Array.empty)

  def fromBytes(bytes: Array[Byte]): SymTab = {
    val r = new ByteReader(bytes, 0, bytes.length)
    val ver = r.readByte()
    require(ver == FormatVersion, s"unknown symtab version $ver")
    val n = r.readByte()
    val syms = new Array[Array[Int]](n)
    var c = 0
    while (c < n) {
      val len = r.readByte()
      val s = new Array[Int](len)
      var j = 0
      while (j < len) { s(j) = r.readZigZag(); j += 1 }
      syms(c) = s
      c += 1
    }
    new SymTab(syms)
  }
}
