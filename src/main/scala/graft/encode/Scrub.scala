package graft.encode

import graft.core._
import graft.format.{ChunkOps, ChunkStatsRow, EncodedChunk, Offsets}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Compressed-domain token SCRUBBING: replace every occurrence of a banned
  * token set with a replacement (UNK) token, directly over an encoded chunk
  * table — the WRITE-side dual of [[graft.core.SetMatch]]'s blocklist filter
  * and the redaction step of a training-data pipeline (PII ids, special
  * tokens, benchmark canaries).
  *
  * Per-chunk strategy, cheapest sound path first:
  *
  *   1. GATE (the 100-TB lever): the zone map (`banned ∩ [min_tok,max_tok]`)
  *      and the token bloom prove most chunks clean — those pass through
  *      BYTE-IDENTICAL (same crc, no decode, no rewrite). Banned tokens are
  *      rare by construction in real corpora, so scrubbing is priced by the
  *      dirty-chunk fraction, not the corpus size. Dict chunks get an exact
  *      gate (banned ∩ dictionary = ∅).
  *   2. RLE: runs rewrite in the run domain — one membership test per run,
  *      adjacent runs merging when their values collapse to UNK, so the
  *      output is exactly what a fresh canonical encode would emit
  *      (maximal runs). Tokens are never materialized.
  *   3. DICT: the dictionary remaps and re-normalizes (sorted, distinct —
  *      the invariant every dict-domain matcher binary-searches on) and rows
  *      repack old-index → new-index in the INDEX domain at the new width.
  *      Because the old dictionary is the chunk's exact distinct set, the
  *      remapped output equals a fresh canonical dict encode bit for bit,
  *      so equality/range/set pushdown stays sound on scrubbed chunks.
  *   4. FSST / FoR / bitpack / raw: decode → remap → re-encode with the
  *      auto-selector (stats change, so the codec choice legitimately may).
  *      FSST is NOT remapped in the symbol-expansion domain on purpose:
  *      a many-to-one token remap can make two expansions collide or let a
  *      longer symbol newly match where greedy encode previously chose a
  *      shorter one, silently breaking the canonical-encode invariant that
  *      equality pushdown (E5) memcmps against. FoR/bitpack row bases and
  *      widths shift when UNK leaves the packed range. Re-encode keeps
  *      every invariant by construction.
  *
  * All paths recompute chunk stats (zone map, blooms, distinct estimate) so
  * downstream compressed-domain scans gate correctly on the scrubbed table,
  * and the chunk crc is recomputed over the rewritten planes.
  */
object Scrub {

  /** Scrub an encoded chunk table. `banned` values map to `unk`; everything
    * else (ids, row order, row counts, chunk/bucket lineage) is preserved.
    */
  def scrub(chunks: DataFrame, banned: Seq[Int], unk: Int): Dataset[EncodedChunk] = {
    val sorted = SetMatch.sortedSet(banned.toArray)
    val vals = Array.fill(sorted.length)(unk)
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.as[EncodedChunk].map(c => remapChunk(c, sorted, vals))
  }

  /** Scrub one chunk. `banned` must be sorted distinct ([[SetMatch.sortedSet]]). */
  def scrubChunk(c: EncodedChunk, banned: Array[Int], unk: Int): EncodedChunk =
    remapChunk(c, banned, Array.fill(banned.length)(unk))

  /** Vocabulary REMAP over an encoded chunk table — the tokenizer-migration
    * generalization of [[scrub]]: every token equal to `mapping`'s key
    * rewrites to its value (applied element-wise, ONCE per token — a swap
    * {a→b, b→a} exchanges the two, it does not chain). Same gates, same
    * per-codec rewrite paths, same canonical-encode guarantees as scrub;
    * identity pairs are dropped up front so a no-op mapping passes every
    * chunk through byte-identical.
    */
  def remap(chunks: DataFrame, mapping: Map[Int, Int]): Dataset[EncodedChunk] = {
    val pairs = mapping.toArray.filter { case (k, v) => k != v }.sortBy(_._1)
    val keys = pairs.map(_._1)
    val vals = pairs.map(_._2)
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.as[EncodedChunk].map(c => remapChunk(c, keys, vals))
  }

  /** Rewrite one chunk under (sorted keys → vals). Cheapest sound path
    * first, exactly as documented on the object.
    */
  def remapChunk(c: EncodedChunk, keys: Array[Int], vals: Array[Int]): EncodedChunk = {
    require(c.ver == ChunkOps.FormatVersion,
      s"chunk ${c.chunk_id}: unsupported chunk format version ${c.ver}")
    require(keys.length == vals.length, "keys/vals must be parallel arrays")
    if (keys.isEmpty) return c
    // chunk gates: zone map, bloom, and (dict) exact dictionary intersection
    if (!SetMatch.chunkMayHit(keys, c.stats.min_tok, c.stats.max_tok, c.stats.symbol_bitmap))
      return c
    c.codec match {
      case "rle" => scrubRle(c, keys, vals)
      case "dict" =>
        val dict = DictCodec.readDict(c.symtab)
        if (!dict.exists(v => SetMatch.contains(keys, v))) c
        else scrubDict(c, dict, keys, vals)
      case _ => reencode(c, keys, vals)
    }
  }

  @inline private def map1(v: Int, keys: Array[Int], vals: Array[Int]): Int = {
    val idx = java.util.Arrays.binarySearch(keys, v)
    if (idx >= 0) vals(idx) else v
  }

  /** Run-domain rewrite: membership per RUN, adjacent runs merged when their
    * values collapse, stats rebuilt from the runs themselves.
    */
  private def scrubRle(c: EncodedChunk, keys: Array[Int], vals: Array[Int]): EncodedChunk = {
    val out = new ByteWriter(c.data.length)
    val offs = Offsets.unpack(c.offsets, c.row_count)
    val ends = new Array[Int](c.row_count)
    val st = new StatsAcc
    var row = 0
    while (row < c.row_count) {
      val r = new ByteReader(c.data, offs(row), offs(row + 1))
      val n = r.readVarUInt()
      out.writeVarUInt(n)
      var left = n
      var pendLen = 0
      var pendVal = 0
      while (left > 0) {
        val runLen = r.readVarUInt()
        val v = map1(r.readZigZag(), keys, vals)
        left -= runLen
        if (pendLen > 0 && v == pendVal) pendLen += runLen
        else {
          if (pendLen > 0) { out.writeVarUInt(pendLen); out.writeZigZag(pendVal); st.run(pendVal, pendLen) }
          pendLen = runLen; pendVal = v
        }
      }
      if (pendLen > 0) { out.writeVarUInt(pendLen); out.writeZigZag(pendVal); st.run(pendVal, pendLen) }
      st.endRow()
      ends(row) = out.size
      row += 1
    }
    rebuild(c, "rle", Array.emptyByteArray, out.toBytes, ends, st)
  }

  /** Index-domain rewrite: remap + re-sort the dictionary, repack each row's
    * indices at the new width. Equals a fresh canonical dict encode because
    * the old dictionary is exactly the chunk's distinct value set.
    */
  private def scrubDict(c: EncodedChunk, dict: Array[Int], keys: Array[Int],
                        vals: Array[Int]): EncodedChunk = {
    val mapped = dict.map(v => map1(v, keys, vals))
    val newDict = mapped.distinct
    java.util.Arrays.sort(newDict)
    val idxMap = new Array[Int](dict.length)
    var i = 0
    while (i < dict.length) {
      idxMap(i) = java.util.Arrays.binarySearch(newDict, mapped(i))
      i += 1
    }
    val header = {
      val w = new ByteWriter(newDict.length * 2 + 8)
      w.writeVarUInt(newDict.length)
      var j = 0
      while (j < newDict.length) { w.writeZigZag(newDict(j)); j += 1 }
      w.toBytes
    }
    val oldW = BitPack.bitsFor(math.max(dict.length - 1, 0))
    val newW = BitPack.bitsFor(math.max(newDict.length - 1, 0))
    val out = new ByteWriter(c.data.length)
    val offs = Offsets.unpack(c.offsets, c.row_count)
    val ends = new Array[Int](c.row_count)
    val st = new StatsAcc
    var row = 0
    while (row < c.row_count) {
      val r = new ByteReader(c.data, offs(row), offs(row + 1))
      val n = r.readVarUInt()
      out.writeVarUInt(n)
      val idx = BitPack.unpack(c.data, r.pos, n, oldW, k => idxMap(k))
      BitPack.pack(idx, 0, n, k => k, newW, out)
      var j = 0
      while (j < n) { st.run(newDict(idx(j)), 1); j += 1 }
      st.endRow()
      ends(row) = out.size
      row += 1
    }
    rebuild(c, "dict", header, out.toBytes, ends, st)
  }

  /** Decode → remap → canonical re-encode (auto codec re-selection). */
  private def reencode(c: EncodedChunk, keys: Array[Int], vals: Array[Int]): EncodedChunk = {
    val dec = Codecs.byName(c.codec).decoder(c.symtab)
    val offs = Offsets.unpack(c.offsets, c.row_count)
    val rows = new Array[Array[Int]](c.row_count)
    var i = 0
    while (i < c.row_count) {
      val toks = dec.decode(c.data, offs(i), offs(i + 1))
      var j = 0
      while (j < toks.length) { toks(j) = map1(toks(j), keys, vals); j += 1 }
      rows(i) = toks
      i += 1
    }
    ChunkOps.buildPacked(c.chunk_id, c.part_id, c.doc_ids, c.first_doc_id,
      c.source, TokenRows.ofArrays(scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)),
      forceCodec = None)
  }

  /** Streaming stats over rewritten values: zone map, blooms, distinct count
    * (exact via hash set — bounded by the chunk's token count), max run.
    * Shared with [[Truncate]]'s stats recomputation.
    */
  private[encode] final class StatsAcc {
    var minTok: Int = Int.MaxValue
    var maxTok: Int = Int.MinValue
    var maxRun: Int = 0
    val bloom = new Array[Byte](ChunkStats.BloomBytes)
    private val seen = new java.util.HashSet[Integer]()
    private var lastVal = 0
    private var lastRun = 0
    private var any = false
    def run(v: Int, len: Int): Unit = {
      if (v < minTok) minTok = v
      if (v > maxTok) maxTok = v
      if (any && v == lastVal) lastRun += len
      else { lastVal = v; lastRun = len; any = true }
      if (lastRun > maxRun) maxRun = lastRun
      if (seen.size < (1 << 20)) seen.add(v)
      ChunkStats.bloomSet(bloom, v)
    }
    /** Runs never span rows — reset the run cursor at each row boundary. */
    def endRow(): Unit = any = false
    def distinct: Long = seen.size.toLong
  }

  private def rebuild(c: EncodedChunk, codec: String, header: Array[Byte],
                      data: Array[Byte], ends: Array[Int], st: StatsAcc): EncodedChunk = {
    val offsets = Offsets.pack(ends)
    c.copy(
      codec = codec,
      symtab = header,
      data = data,
      offsets = offsets,
      stats = ChunkStatsRow(st.distinct,
        if (st.minTok == Int.MaxValue) 0 else st.minTok,
        if (st.maxTok == Int.MinValue) 0 else st.maxTok,
        st.maxRun, 0L, st.bloom,
        st.bloom), // non-FSST: decode-then-match treats every token as escaped
      crc = ChunkOps.chunkCrc(data, header, offsets, c.doc_ids))
  }
}

