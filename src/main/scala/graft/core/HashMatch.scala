package graft.core

/** Compressed-domain per-row CONTENT HASH: a 128-bit (two independent
  * 64-bit lanes) polynomial hash of each row's decoded token sequence,
  * computed in every codec's own domain without materializing a decoded
  * array. This is the exact-dedup analog of the compressed-domain
  * predicates (the reference's research question is predicates-on-codes;
  * content hashing extends the trick to GROUP BY content):
  *
  *  - fsst:    precompute per code its polynomial fragment (hash of the
  *             symbol's token run) and length power ONCE per chunk, then
  *             stream code bytes: h = h·B^len(c) + frag(c). Work is
  *             O(code bytes), not O(tokens) — on text-like data codes
  *             average >1 token.
  *  - rle:     a run of value v repeated r times folds in CLOSED FORM:
  *             h = h·B^r + m(v)·(B^(r−1)+…+1), with (B^r, ΣB^j) computed
  *             in O(log r) by square-and-multiply — repeated tokens are
  *             never touched individually.
  *  - dict:    per-dictionary-entry mixed values precomputed once (a
  *             card-sized table), then one table load per packed index.
  *  - bitpack/for/raw: mix packed/varint values straight off the wire.
  *
  * The hash is a pure function of the decoded token sequence — identical
  * across codecs (Soak fuzzes every codec against the decoded-array
  * reference) — so exact dedup over a 100-TB encoded table shuffles
  * 16-byte keys instead of token payloads, with zero decode in the plan.
  *
  * Definition (per lane): h₀ = 0; hᵢ₊₁ = hᵢ·B + mix64(tᵢ ⊕ SALT);
  * final = mix64(h ⊕ mix64(n ⊕ SALT)) — the length fold separates
  * sequences that are prefix-extensions with zero-mapping tokens. B odd so
  * ·B is a bijection mod 2^64. Collision probability for k distinct rows
  * is ≈ k²/2^129 — negligible at 10^12 rows (≈4·10^-16).
  */
object HashMatch {
  import graft.pipeline.Hashing.mix64

  // lane multipliers: odd 64-bit constants (golden ratio / xxhash prime 2)
  final val B1 = 0x9e3779b97f4a7c15L
  final val B2 = 0xc2b2ae3d27d4eb4fL
  private final val Salt1 = 0x8cb92ba72f3d8dd7L
  private final val Salt2 = 0x589965cc75374cc3L

  @inline private def m1(t: Int): Long = mix64(t.toLong ^ Salt1)
  @inline private def m2(t: Int): Long = mix64(t.toLong ^ Salt2)

  /** Reference hash of a decoded token range — the semantic ground truth the
    * per-codec kernels must reproduce bit-for-bit. Lane 1 of the pair.
    */
  def hashTokens1(toks: Array[Int], from: Int, n: Int): Long = {
    var h = 0L
    var i = from
    val end = from + n
    while (i < end) { h = h * B1 + m1(toks(i)); i += 1 }
    mix64(h ^ mix64(n.toLong ^ Salt1))
  }
  def hashTokens2(toks: Array[Int], from: Int, n: Int): Long = {
    var h = 0L
    var i = from
    val end = from + n
    while (i < end) { h = h * B2 + m2(toks(i)); i += 1 }
    mix64(h ^ mix64(n.toLong ^ Salt2))
  }

  @inline private def fin1(h: Long, n: Int): Long = mix64(h ^ mix64(n.toLong ^ Salt1))
  @inline private def fin2(h: Long, n: Int): Long = mix64(h ^ mix64(n.toLong ^ Salt2))

  /** (B^r, 1+B+…+B^(r−1)) mod 2^64 by square-and-multiply: the closed-form
    * fold for an RLE run of length r. Concatenation law for block lengths
    * l+m: P = P(l)·P(m); S = S(l)·P(m) + S(m). Packed as (pow, sum) in one
    * long pair via the two output slots of `ps`.
    */
  private final class PowSum(b: Long) {
    var pow: Long = 1L
    var sum: Long = 0L
    private val base = b
    def compute(r0: Int): Unit = {
      var r = r0
      pow = 1L; sum = 0L
      var pb = base      // B^(2^k)
      var sb = 1L        // Σ_{j<2^k} B^j
      while (r != 0) {
        if ((r & 1) != 0) { sum = sum * pb + sb; pow = pow * pb }
        sb = sb * (pb + 1L)
        pb = pb * pb
        r >>>= 1
      }
    }
  }

  /** Per-row 128-bit content hashes for one whole chunk, in the codec's
    * compressed domain. Returns (lane1, lane2) arrays of length rowCount.
    */
  def chunkRowHashes(codec: String, header: Array[Byte], data: Array[Byte],
                     offs: Array[Int], rowCount: Int): (Array[Long], Array[Long]) = {
    val h1 = new Array[Long](rowCount)
    val h2 = new Array[Long](rowCount)
    codec match {
      case FsstTokenCodec.name => hashFsst(SymTab.fromBytes(header), data, offs, rowCount, h1, h2)
      case RleCodec.name       => hashRle(data, offs, rowCount, h1, h2)
      case DictCodec.name =>
        val dict = DictCodec.readDict(header)
        val width = BitPack.bitsFor(math.max(dict.length - 1, 0))
        val t1 = new Array[Long](dict.length)
        val t2 = new Array[Long](dict.length)
        var i = 0
        while (i < dict.length) { t1(i) = m1(dict(i)); t2(i) = m2(dict(i)); i += 1 }
        hashPacked(data, offs, rowCount, width, t1, t2, 0L, 0L, h1, h2)
      case BitPackCodec.name =>
        hashPacked(data, offs, rowCount, header(0) & 0xff, null, null, 0L, 0L, h1, h2)
      case ForCodec.name       => hashFor(data, offs, rowCount, header(0) & 0xff, h1, h2)
      case RawCodec.name       => hashRaw(data, offs, rowCount, h1, h2)
      case other => Codecs.unknown(other)
    }
    (h1, h2)
  }

  private def hashFsst(st: SymTab, data: Array[Byte], offs: Array[Int], rowCount: Int,
                       h1: Array[Long], h2: Array[Long]): Unit = {
    val flat = st.flatTokens
    val flatOff = st.flatOffsets
    // per-code polynomial fragments + length powers, built once per chunk:
    // frag(c) = Σ_j m(t_j)·B^(len−1−j);  pow(c) = B^len(c)
    val frag1 = new Array[Long](256)
    val frag2 = new Array[Long](256)
    val pow1 = new Array[Long](256)
    val pow2 = new Array[Long](256)
    val nSyms = flatOff.length - 1 // actual symbol count (≤255), NOT a fixed 255
    var c = 0
    while (c < nSyms) {
      var f1 = 0L; var f2 = 0L; var p1 = 1L; var p2 = 1L
      var j = flatOff(c)
      val e = flatOff(c + 1)
      while (j < e) {
        f1 = f1 * B1 + m1(flat(j)); f2 = f2 * B2 + m2(flat(j))
        p1 *= B1; p2 *= B2
        j += 1
      }
      frag1(c) = f1; frag2(c) = f2; pow1(c) = p1; pow2(c) = p2
      c += 1
    }
    var i = 0
    while (i < rowCount) {
      var pos = offs(i)
      val to = offs(i + 1)
      var n = 0
      var shift = 0
      var b0 = 0
      do {
        b0 = data(pos) & 0xff; pos += 1
        n |= (b0 & 0x7f) << shift; shift += 7
      } while ((b0 & 0x80) != 0)
      var a1 = 0L; var a2 = 0L
      while (pos < to) {
        // SWAR segment: maximal escape-free run of code bytes
        val seg = Swar.indexOfFF(data, pos, to)
        while (pos < seg) {
          val cb = data(pos) & 0xff
          pos += 1
          a1 = a1 * pow1(cb) + frag1(cb)
          a2 = a2 * pow2(cb) + frag2(cb)
        }
        if (pos < to) {
          pos += 1 // escape marker
          var u = 0
          var sh = 0
          var bb = 0
          do {
            bb = data(pos) & 0xff; pos += 1
            u |= (bb & 0x7f) << sh; sh += 7
          } while ((bb & 0x80) != 0)
          val t = (u >>> 1) ^ -(u & 1)
          a1 = a1 * B1 + m1(t)
          a2 = a2 * B2 + m2(t)
        }
      }
      h1(i) = fin1(a1, n); h2(i) = fin2(a2, n)
      i += 1
    }
  }

  private def hashRle(data: Array[Byte], offs: Array[Int], rowCount: Int,
                      h1: Array[Long], h2: Array[Long]): Unit = {
    val ps1 = new PowSum(B1)
    val ps2 = new PowSum(B2)
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      var a1 = 0L; var a2 = 0L
      var k = 0
      while (k < n) {
        val run = r.readVarUInt()
        val v = r.readZigZag()
        ps1.compute(run); ps2.compute(run)
        a1 = a1 * ps1.pow + m1(v) * ps1.sum
        a2 = a2 * ps2.pow + m2(v) * ps2.sum
        k += run
      }
      h1(i) = fin1(a1, n); h2(i) = fin2(a2, n)
      i += 1
    }
  }

  /** dict (tables = per-index mixed values) and bitpack (tables = null →
    * mix the packed value + base directly; base 0 for plain bitpack).
    */
  private def hashPacked(data: Array[Byte], offs: Array[Int], rowCount: Int, width: Int,
                         t1: Array[Long], t2: Array[Long], base1: Long, base2: Long,
                         h1: Array[Long], h2: Array[Long]): Unit = {
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      var a1 = 0L; var a2 = 0L
      if (width == 0) {
        // n == 0 guards the table load: an all-empty-rows chunk has an
        // EMPTY dictionary (t1.length == 0) at width 0
        if (n > 0) {
          val v1 = if (t1 != null) t1(0) else m1(base1.toInt)
          val v2 = if (t2 != null) t2(0) else m2(base2.toInt)
          var k = 0
          while (k < n) { a1 = a1 * B1 + v1; a2 = a2 * B2 + v2; k += 1 }
        }
      } else {
        var acc = 0L
        var nbits = 0
        var pos = r.pos
        val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
        var k = 0
        while (k < n) {
          while (nbits < width) { acc |= (data(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
          val idx = (acc & mask).toInt
          acc >>>= width
          nbits -= width
          if (t1 != null) { a1 = a1 * B1 + t1(idx); a2 = a2 * B2 + t2(idx) }
          else {
            a1 = a1 * B1 + m1((base1 + idx).toInt)
            a2 = a2 * B2 + m2((base2 + idx).toInt)
          }
          k += 1
        }
      }
      h1(i) = fin1(a1, n); h2(i) = fin2(a2, n)
      i += 1
    }
  }

  private def hashFor(data: Array[Byte], offs: Array[Int], rowCount: Int, width: Int,
                      h1: Array[Long], h2: Array[Long]): Unit = {
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      if (n == 0) { h1(i) = fin1(0L, 0); h2(i) = fin2(0L, 0); i += 1 }
      else {
        val base = r.readZigZag()
        var a1 = 0L; var a2 = 0L
        var acc = 0L
        var nbits = 0
        var pos = r.pos
        val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
        var k = 0
        while (k < n) {
          if (width == 0) { a1 = a1 * B1 + m1(base); a2 = a2 * B2 + m2(base) }
          else {
            while (nbits < width) { acc |= (data(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
            val t = base + (acc & mask).toInt
            acc >>>= width
            nbits -= width
            a1 = a1 * B1 + m1(t); a2 = a2 * B2 + m2(t)
          }
          k += 1
        }
        h1(i) = fin1(a1, n); h2(i) = fin2(a2, n)
        i += 1
      }
    }
  }

  private def hashRaw(data: Array[Byte], offs: Array[Int], rowCount: Int,
                      h1: Array[Long], h2: Array[Long]): Unit = {
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      var a1 = 0L; var a2 = 0L
      var k = 0
      while (k < n) {
        val t = r.readZigZag()
        a1 = a1 * B1 + m1(t); a2 = a2 * B2 + m2(t)
        k += 1
      }
      h1(i) = fin1(a1, n); h2(i) = fin2(a2, n)
      i += 1
    }
  }
}
