package graft.core

import scala.collection.mutable

/** Per-chunk codec contract. A chunk is encoded as:
  *   header bytes (codec-specific: symbol table / dictionary / FoR params)
  *   + per-row payloads, each starting with varUInt(nTokens).
  *
  * The uniform row-count prefix lets every decoder preallocate and gives the
  * pattern matchers a cheap length gate (prefix/equality early exit).
  */
trait ChunkCodec extends Serializable {
  def name: String
  /** Build the chunk header from the chunk's own rows + exact stats (the
    * reference trains each block on itself: /root/reference/src/BenchmarkDriver.cpp:87-140).
    */
  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte]
  final def buildHeader(rows: IndexedSeq[Array[Int]], stats: ChunkStats): Array[Byte] =
    buildHeader(TokenRows.ofArrays(rows), stats)
  def encoder(header: Array[Byte]): RowEncoder
  def decoder(header: Array[Byte]): RowDecoder
}

trait RowEncoder {
  /** Encode one row at buf[from, from+n) — range form so the encode reduce
    * path reads rows straight out of the GroupBuffer slab (no per-row copy).
    */
  def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit
  final def encode(toks: Array[Int], out: ByteWriter): Unit =
    encode(toks, 0, toks.length, out)
  def escapeCount: Long = 0L
  /** Bloom over tokens this encoder wrote as escapes (FSST only; null else).
    * The analog of the reference's used_chars escaped-byte bitmap
    * (/root/reference/src/BenchmarkDriver.cpp:128-137), keyed by token.
    */
  def escapedBloom: Array[Byte] = null
}
trait RowDecoder { def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] }

// ---------------------------------------------------------------------------
// FSST-for-tokens
// ---------------------------------------------------------------------------

/** Codes 0..254 reference symbols (1–8 tokens); 255 = escape + zigzag-varint
  * literal token. Byte-stream layout re-specified from the reference's
  * compressed form (/root/reference/src/FsstWrapper.hpp:66-161) for the token
  * alphabet (SURVEY.md §2.2).
  */
object FsstTokenCodec extends ChunkCodec {
  val name = "fsst"

  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte] =
    FsstTrainer.train(rows).toBytes

  def encoder(header: Array[Byte]): RowEncoder = new RowEncoder {
    private val st = SymTab.fromBytes(header)
    private var esc = 0L
    private val escBloom = new Array[Byte](ChunkStats.BloomBytes)
    override def escapeCount: Long = esc
    override def escapedBloom: Array[Byte] = escBloom
    def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit = {
      out.writeVarUInt(n)
      val end = from + n
      var i = from
      while (i < end) {
        val code = st.longestMatch(buf, i, end)
        if (code >= 0) { out.writeByte(code); i += st.symLen(code) }
        else {
          out.writeByte(SymTab.EscapeCode)
          out.writeZigZag(buf(i))
          ChunkStats.bloomSet(escBloom, buf(i))
          i += 1
          esc += 1
        }
      }
    }
  }

  def decoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    private val st = SymTab.fromBytes(header)
    private val flat = st.flatTokens
    private val flatOff = st.flatOffsets
    // Hot-loop discipline (the JVM analog of the reference's word-wise
    // escape-mask decode fast path, /root/reference/src/FsstWrapper.hpp:89-110):
    // scan ahead to the next escape marker with a SWAR word scan (8 bytes
    // per mask test, Swar.indexOfFF), then expand the escape-free code
    // segment with NO per-byte escape branch. Local cursors, inlined
    // varints, one flat contiguous symbol array.
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      var pos = from
      var n = 0
      var shift = 0
      var b0 = 0
      do {
        b0 = bytes(pos) & 0xff; pos += 1
        n |= (b0 & 0x7f) << shift; shift += 7
      } while ((b0 & 0x80) != 0)
      val out = new Array[Int](n)
      var k = 0
      while (k < n) {
        if (pos >= to) throw new IllegalStateException("truncated fsst row")
        // segment = maximal escape-free run of code bytes
        val seg = Swar.indexOfFF(bytes, pos, to)
        while (pos < seg) {
          val c = bytes(pos) & 0xff
          pos += 1
          var j = flatOff(c)
          val e = flatOff(c + 1)
          while (j < e) { out(k) = flat(j); k += 1; j += 1 }
        }
        if (k < n && pos < to) {
          // escape marker + zigzag literal
          pos += 1
          var u = 0
          var sh = 0
          var bb = 0
          do {
            bb = bytes(pos) & 0xff; pos += 1
            u |= (bb & 0x7f) << sh; sh += 7
          } while ((bb & 0x80) != 0)
          out(k) = (u >>> 1) ^ -(u & 1)
          k += 1
        }
      }
      out
    }
  }
}

// ---------------------------------------------------------------------------
// Dictionary + bit-packed indices
// ---------------------------------------------------------------------------

object DictCodec extends ChunkCodec {
  val name = "dict"
  val MaxCard = 4096

  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte] = {
    val dict = stats.distinctSorted.getOrElse(
      throw new IllegalStateException("dict codec needs exact distinct set"))
    val w = new ByteWriter(dict.length * 2 + 8)
    w.writeVarUInt(dict.length)
    var i = 0
    while (i < dict.length) { w.writeZigZag(dict(i)); i += 1 }
    w.toBytes
  }

  private[graft] def readDict(header: Array[Byte]): Array[Int] = {
    val r = new ByteReader(header, 0, header.length)
    val card = r.readVarUInt()
    val dict = new Array[Int](card)
    var i = 0
    while (i < card) { dict(i) = r.readZigZag(); i += 1 }
    dict
  }

  /** Decoder to dictionary INDICES (skips the value mapping) — the
    * dict-domain match path: patterns are translated to indices once, rows
    * compare in the index alphabet and token values never materialize.
    */
  def indexDecoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    private val card = new ByteReader(header, 0, header.length).readVarUInt()
    private val width = BitPack.bitsFor(math.max(card - 1, 0))
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      BitPack.unpack(bytes, r.pos, n, width, i => i)
    }
  }

  def encoder(header: Array[Byte]): RowEncoder = new RowEncoder {
    private val dict = readDict(header)
    private val width = BitPack.bitsFor(math.max(dict.length - 1, 0))
    private val idx = {
      val m = mutable.LongMap.empty[Int]
      var i = 0
      while (i < dict.length) { m(dict(i).toLong) = i; i += 1 }
      m
    }
    def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit = {
      out.writeVarUInt(n)
      BitPack.pack(buf, from, n, t => idx(t.toLong), width, out)
    }
  }

  def decoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    private val dict = readDict(header)
    private val width = BitPack.bitsFor(math.max(dict.length - 1, 0))
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      BitPack.unpack(bytes, r.pos, n, width, i => dict(i))
    }
  }
}

// ---------------------------------------------------------------------------
// Run-length encoding
// ---------------------------------------------------------------------------

object RleCodec extends ChunkCodec {
  val name = "rle"
  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte] = Array.emptyByteArray
  def encoder(header: Array[Byte]): RowEncoder = new RowEncoder {
    def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit = {
      out.writeVarUInt(n)
      val end = from + n
      var i = from
      while (i < end) {
        val v = buf(i)
        var run = 1
        while (i + run < end && buf(i + run) == v) run += 1
        out.writeVarUInt(run)
        out.writeZigZag(v)
        i += run
      }
    }
  }
  def decoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      val out = new Array[Int](n)
      var k = 0
      while (k < n) {
        val run = r.readVarUInt()
        val v = r.readZigZag()
        var j = 0
        while (j < run) { out(k) = v; k += 1; j += 1 }
      }
      out
    }
  }
}

// ---------------------------------------------------------------------------
// Frame-of-reference (+ plain bit-packing as the base==0 special case)
// ---------------------------------------------------------------------------

/** Frame-of-reference with PER-ROW base: documents with narrow but
  * differently-located value ranges (e.g. clustered ids) pack at the width of
  * the widest single row, not the chunk-global range.
  * Header: byte(width). Row: varUInt(n), zigzag(rowBase), n width-bit deltas.
  */
object ForCodec extends ChunkCodec {
  val name = "for"
  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte] = {
    val w = new ByteWriter(2)
    w.writeByte(BitPack.bitsFor(stats.maxRowRange))
    w.toBytes
  }
  def encoder(header: Array[Byte]): RowEncoder = new RowEncoder {
    private val width = header(0) & 0xff
    def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit = {
      out.writeVarUInt(n)
      if (n == 0) return
      val end = from + n
      var base = buf(from)
      var i = from + 1
      while (i < end) { if (buf(i) < base) base = buf(i); i += 1 }
      out.writeZigZag(base)
      val b = base
      BitPack.pack(buf, from, n, t => t - b, width, out)
    }
  }
  def decoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    private val width = header(0) & 0xff
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      if (n == 0) return Array.emptyIntArray
      val base = r.readZigZag()
      BitPack.unpack(bytes, r.pos, n, width, d => d + base)
    }
  }
}

/** Plain bit-packing: chunk-global zero base, width from the chunk max.
  * Header: byte(width). Row: varUInt(n) + n width-bit values. Eligible only
  * when all tokens are non-negative.
  */
object BitPackCodec extends ChunkCodec {
  val name = "bitpack"
  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte] = {
    require(stats.minTok >= 0, "bitpack needs non-negative tokens")
    val w = new ByteWriter(2)
    w.writeByte(BitPack.bitsFor(stats.maxTok.toLong))
    w.toBytes
  }
  def encoder(header: Array[Byte]): RowEncoder = new RowEncoder {
    private val width = header(0) & 0xff
    def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit = {
      out.writeVarUInt(n)
      BitPack.pack(buf, from, n, t => t, width, out)
    }
  }
  def decoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    private val width = header(0) & 0xff
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      BitPack.unpack(bytes, r.pos, n, width, d => d)
    }
  }
}

// ---------------------------------------------------------------------------
// Raw varint fallback
// ---------------------------------------------------------------------------

object RawCodec extends ChunkCodec {
  val name = "raw"
  def buildHeader(rows: TokenRows, stats: ChunkStats): Array[Byte] = Array.emptyByteArray
  def encoder(header: Array[Byte]): RowEncoder = new RowEncoder {
    def encode(buf: Array[Int], from: Int, n: Int, out: ByteWriter): Unit = {
      out.writeVarUInt(n)
      val end = from + n
      var i = from
      while (i < end) { out.writeZigZag(buf(i)); i += 1 }
    }
  }
  def decoder(header: Array[Byte]): RowDecoder = new RowDecoder {
    def decode(bytes: Array[Byte], from: Int, to: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      val out = new Array[Int](n)
      var i = 0
      while (i < n) { out(i) = r.readZigZag(); i += 1 }
      out
    }
  }
}

/** LSB-first bit packing shared by dict / FoR / bitpack. width 0..32. */
object BitPack {
  def bitsFor(maxValue: Long): Int = {
    require(maxValue >= 0)
    if (maxValue == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(maxValue)
  }
  def pack(buf: Array[Int], from: Int, n: Int, f: Int => Int, width: Int, out: ByteWriter): Unit = {
    if (width == 0) return
    var acc = 0L
    var nbits = 0
    val end = from + n
    var i = from
    while (i < end) {
      acc |= (f(buf(i)).toLong & 0xffffffffL) << nbits
      nbits += width
      while (nbits >= 8) { out.writeByte((acc & 0xff).toInt); acc >>>= 8; nbits -= 8 }
      i += 1
    }
    if (nbits > 0) out.writeByte((acc & 0xff).toInt)
  }
  def pack(toks: Array[Int], f: Int => Int, width: Int, out: ByteWriter): Unit =
    pack(toks, 0, toks.length, f, width, out)
  /** Unpack n values starting at value index `startIdx` of an LSB-first
    * packed payload at `from` — random access into the bit stream (tail
    * projections, anchored compares).
    */
  def unpackAt(bytes: Array[Byte], from: Int, startIdx: Long, n: Int, width: Int,
               f: Int => Int): Array[Int] = {
    val out = new Array[Int](n)
    if (width == 0) {
      var i = 0
      while (i < n) { out(i) = f(0); i += 1 }
      return out
    }
    val bitPos = startIdx * width
    var pos = from + (bitPos >>> 3).toInt
    var acc = 0L
    var nbits = 0
    val skip = (bitPos & 7L).toInt
    if (skip > 0) {
      acc = (bytes(pos) & 0xffL) >>> skip
      nbits = 8 - skip
      pos += 1
    }
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      while (nbits < width) { acc |= (bytes(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
      out(i) = f((acc & mask).toInt)
      acc >>>= width
      nbits -= width
      i += 1
    }
    out
  }

  def unpack(bytes: Array[Byte], from: Int, n: Int, width: Int, f: Int => Int): Array[Int] = {
    val out = new Array[Int](n)
    if (width == 0) {
      var i = 0
      while (i < n) { out(i) = f(0); i += 1 }
      return out
    }
    var acc = 0L
    var nbits = 0
    var pos = from
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      while (nbits < width) { acc |= (bytes(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
      out(i) = f((acc & mask).toInt)
      acc >>>= width
      nbits -= width
      i += 1
    }
    out
  }
}

object Codecs {
  val all: Seq[ChunkCodec] = Seq(FsstTokenCodec, DictCodec, RleCodec, ForCodec, BitPackCodec, RawCodec)
  private val named: Map[String, ChunkCodec] = all.map(c => c.name -> c).toMap

  /** The codec a chunk's `codec` column (or a forced codec) names. */
  def byName(name: String): ChunkCodec = named.getOrElse(name, unknown(name))

  /** A codec name no dispatch knows: input from outside the program (a
    * chunk table on disk, a forced codec), so it fails typed.
    */
  def unknown(name: String): Nothing = throw new IllegalArgumentException(
    s"unknown codec '$name' (known: ${all.map(_.name).mkString(", ")})")
}
