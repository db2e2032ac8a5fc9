package graft.core

/** Greedy, sample-driven symbol-table construction, re-derived from the
  * published FSST algorithm (Boncz/Neumann/Leis, PVLDB 13(11), 2020) for an
  * int32-token alphabet. The reference consumes this algorithm through the
  * FSST C API (fsst_create at /root/reference/src/FsstWrapper.cpp:16-29); we
  * re-implement it from the paper per the NOT-a-port mandate (SURVEY.md §0).
  *
  * Each generation: greedily re-encode the sample with the current table into
  * "units" (symbol occurrences or literal tokens); count every unit and every
  * concatenation of adjacent units (suffix extension) up to 8 tokens; score
  * candidates by gain = count × (escaped-literal byte cost − 1 code byte);
  * keep the top 255.
  *
  * Counting structure: the sample is copied once into one contiguous token
  * array, and a candidate is an (offset, length) reference into it. Distinct
  * candidates live in one primitive array in first-seen order (hash,
  * reference, count); an open-addressing index of key ids, presized to ≥ 1.5×
  * the most keys a generation can insert (2 per sample token), finds them.
  * The stored 64-bit hash settles most probes without comparing tokens, and
  * settles all of them for keys of ≤ 2 tokens (their hash is a bijection of
  * the tokens). The index is cleared with one fill between generations. The
  * top 255 come out of a bounded heap of (rank key, offset) pairs. Nothing is
  * allocated per occurrence.
  *
  * Determinism: candidates are ranked by a total order — gain descending,
  * then shorter first, then signed lexicographic tokens — so the table is a
  * pure function of the sample (resume idempotence, SURVEY.md §7.3.6): the
  * same rows give the same symbols in the same code order, whatever the
  * table's probe order or the rows' backing arrays.
  */
object FsstTrainer {

  val Generations = 5
  /** 16Ki tokens. Benchmark-corpus chunks have a median of about 11 K tokens,
    * so the sample covers most chunks whole and training runs over most of
    * the tokens it encodes.
    */
  val DefaultSampleTokens: Int = 1 << 14

  def train(rows: TokenRows, maxSampleTokens: Int = DefaultSampleTokens,
            generations: Int = Generations): SymTab = {
    // Cap the sample: whole non-empty rows until the token budget is spent
    // (the reference trains on the whole 64Ki-row block; at Spark chunk
    // sizes a capped sample keeps training O(sample) while escapes absorb
    // unseen tokens).
    var budget = maxSampleTokens
    var nRows = 0
    var nToks = 0L
    var ri = 0
    while (ri < rows.rowCount && budget > 0) {
      val n = rows.len(ri)
      if (n > 0) { nRows += 1; nToks += n; budget -= n }
      ri += 1
    }
    if (nRows == 0 || generations <= 0) return SymTab.empty
    require(nToks <= MaxSampleTokens, s"FSST training sample of $nToks tokens is too large")

    val toks = new Array[Int](nToks.toInt)
    val rowEnd = new Array[Int](nRows)
    var at = 0
    var r = 0
    ri = 0
    while (r < nRows) {
      val n = rows.len(ri)
      if (n > 0) {
        System.arraycopy(rows.buf(ri), rows.start(ri), toks, at, n)
        at += n
        rowEnd(r) = at
        r += 1
      }
      ri += 1
    }
    new Kernel(toks, rowEnd).run(generations)
  }

  /** Largest sample whose offsets fit a key's 28-bit offset field and whose
    * index (2 keys per token at load ≤ 2/3) fits 2^29 slots.
    */
  private val MaxSampleTokens = (1L << 29) / 3

  /** Polynomial pre-hash multiplier for keys of ≥ 3 tokens. */
  private val M = 0x9e3779b97f4a7c15L

  private final class Kernel(toks: Array[Int], rowEnd: Array[Int]) {
    private val nToks = toks.length

    // literal cost of toks[a, b) = cost(b) − cost(a); Int sums may wrap on a
    // huge sample, but a difference over ≤ 8 tokens stays exact
    private val cost: Array[Int] = {
      val c = new Array[Int](nToks + 1)
      var i = 0
      while (i < nToks) { c(i + 1) = c(i) + Varint.escapeCost(toks(i)); i += 1 }
      c
    }

    // index: open addressing, slot → key id + 1 (0 = empty), sized to
    // ≥ 1.5× the most keys a generation can insert (2 per sample token)
    private val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(16L, 3L * nToks) - 1)
    private val mask = (1 << bits) - 1
    private val shift = 64 - bits
    private val index = new Array[Int](1 << bits)
    // keys in insertion order: keys(2k) = 64-bit hash,
    // keys(2k + 1) = offset << 35 | (length − 1) << 32 | count
    private var keys = new Array[Long](2 * math.max(16, nToks))
    private var nKeys = 0

    // heap entry: rank key = gain << 3 | (8 − length), and the offset
    private val heapKey = new Array[Long](SymTab.MaxSymbols)
    private val heapOff = new Array[Int](SymTab.MaxSymbols)

    def run(generations: Int): SymTab = {
      var table = SymTab.empty
      var gen = 0
      while (gen < generations) {
        count(table)
        table = new SymTab(topSymbols())
        java.util.Arrays.fill(index, 0)
        nKeys = 0
        gen += 1
      }
      table
    }

    /** Greedy re-encode of every sample row; bump each unit and each suffix
      * extension (previous unit ++ this unit, ≤ MaxSymbolLen tokens).
      */
    private def count(table: SymTab): Unit = {
      var from = 0
      var r = 0
      while (r < rowEnd.length) {
        val end = rowEnd(r)
        var pos = from
        var prevLen = 0
        while (pos < end) {
          val code = table.longestMatch(toks, pos, end)
          val uLen = if (code >= 0) table.symLen(code) else 1
          bump(pos, uLen)
          if (prevLen > 0 && prevLen + uLen <= SymTab.MaxSymbolLen) bump(pos - prevLen, prevLen + uLen)
          prevLen = uLen
          pos += uLen
        }
        from = end
        r += 1
      }
    }

    /** Hash of toks[off, off + len). For len ≤ 2 the pre-hash is the tokens
      * themselves and the mix is a bijection, so equal hashes and lengths
      * mean equal tokens; longer keys compare tokens on a hash match.
      */
    private def hash(off: Int, len: Int): Long = {
      var h = toks(off).toLong
      if (len == 2) h = (h << 32) + toks(off + 1)
      else {
        var i = 1
        while (i < len) { h = h * M + toks(off + i); i += 1 }
      }
      // murmur3 fmix64 over pre-hash + length
      h += len * 0xc2b2ae3d27d4eb4fL
      h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
      h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
      h ^ (h >>> 33)
    }

    private def bump(off: Int, len: Int): Unit = {
      val h = hash(off, len)
      var s = (h >>> shift).toInt
      while (true) {
        val id = index(s) - 1
        if (id < 0) {
          if (2 * nKeys == keys.length) keys = java.util.Arrays.copyOf(keys, 2 * keys.length)
          keys(2 * nKeys) = h
          keys(2 * nKeys + 1) = off.toLong << 35 | (len - 1).toLong << 32 | 1L
          nKeys += 1
          index(s) = nKeys
          return
        }
        if (keys(2 * id) == h) {
          val meta = keys(2 * id + 1)
          val sameLen = ((meta >>> 32).toInt & 7) == len - 1
          if (sameLen && (len <= 2 || sameTokens((meta >>> 35).toInt, off, len))) {
            keys(2 * id + 1) = meta + 1
            return
          }
        }
        s = (s + 1) & mask
      }
    }

    private def sameTokens(a: Int, b: Int, len: Int): Boolean = {
      var i = 0
      while (i < len && toks(a + i) == toks(b + i)) i += 1
      i == len
    }

    /** Rank order: gain descending, then shorter first (both in the rank
      * key), then signed lexicographic tokens. Total over distinct
      * candidates.
      */
    private def ranksBefore(k1: Long, o1: Int, k2: Long, o2: Int): Boolean = {
      if (k1 != k2) return k1 > k2
      val len = 8 - (k1 & 7).toInt
      var i = 0
      while (i < len) {
        val a = toks(o1 + i)
        val b = toks(o2 + i)
        if (a != b) return a < b
        i += 1
      }
      false
    }

    /** Top MaxSymbols candidates in rank order. The heap's root is the
      * lowest-ranked candidate kept so far; every parent ranks after its
      * children.
      */
    private def topSymbols(): Array[Array[Int]] = {
      var k = 0
      var i = 0
      while (i < nKeys) {
        val meta = keys(2 * i + 1)
        val off = (meta >>> 35).toInt
        val len = ((meta >>> 32).toInt & 7) + 1
        // gain ≥ 1: every token's escape costs ≥ 2 bytes
        val gain = (meta & 0xffffffffL) * (cost(off + len) - cost(off) - 1)
        val key = gain << 3 | (8 - len)
        if (k < SymTab.MaxSymbols) {
          heapKey(k) = key
          heapOff(k) = off
          k += 1
          siftUp(k - 1)
        } else if (ranksBefore(key, off, heapKey(0), heapOff(0))) {
          heapKey(0) = key
          heapOff(0) = off
          siftDown(k)
        }
        i += 1
      }
      // pop lowest-ranked first into the back of the table
      val syms = new Array[Array[Int]](k)
      while (k > 0) {
        val off = heapOff(0)
        syms(k - 1) = java.util.Arrays.copyOfRange(toks, off, off + 8 - (heapKey(0) & 7).toInt)
        k -= 1
        heapKey(0) = heapKey(k)
        heapOff(0) = heapOff(k)
        siftDown(k)
      }
      syms
    }

    private def swap(a: Int, b: Int): Unit = {
      val g = heapKey(a); heapKey(a) = heapKey(b); heapKey(b) = g
      val o = heapOff(a); heapOff(a) = heapOff(b); heapOff(b) = o
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) >> 1
        if (!ranksBefore(heapKey(p), heapOff(p), heapKey(i), heapOff(i))) return
        swap(p, i)
        i = p
      }
    }

    private def siftDown(size: Int): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= size) return
        var c = l
        if (l + 1 < size && ranksBefore(heapKey(l), heapOff(l), heapKey(l + 1), heapOff(l + 1))) c = l + 1
        if (!ranksBefore(heapKey(i), heapOff(i), heapKey(c), heapOff(c))) return
        swap(i, c)
        i = c
      }
    }
  }
}
