package graft.query

import graft.core._
import graft.format.{Offsets, PackedIds}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** decode_row(enc, header, codec) → array<int>: decodes one encoded row.
  * This is the decode boundary the optimizer rule pushes predicates through
  * (SURVEY.md §4 O2).
  */
case class DecodeRow(enc: Expression, header: Expression, codecName: Expression)
    extends TernaryExpression {
  override def first: Expression = enc
  override def second: Expression = header
  override def third: Expression = codecName
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = enc.nullable || header.nullable || codecName.nullable
  override def prettyName: String = "decode_row"

  def decodeOne(e: Array[Byte], h: Array[Byte], c: UTF8String): ArrayData = {
    val dec = EvalCaches.decoder(c, h)
    // UnsafeArrayData.fromPrimitiveArray = one memcpy; GenericArrayData(int[])
    // boxes every element AND forces the row writer into an element loop
    UnsafeArrayData.fromPrimitiveArray(dec.decode(e, 0, e.length))
  }

  override protected def nullSafeEval(e: Any, h: Any, c: Any): Any =
    decodeOne(e.asInstanceOf[Array[Byte]], h.asInstanceOf[Array[Byte]],
      c.asInstanceOf[UTF8String])

  // stays inside WholeStageCodegen (the per-row path a user hits when
  // projecting `tokens` from the encoded view): one virtual call per row,
  // no fallback-iterator boundary splitting the stage
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("decodeRow", this, classOf[DecodeRow].getName)
    nullSafeCodeGen(ctx, ev, (e, h, c) => s"${ev.value} = $ref.decodeOne($e, $h, $c);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** Partial decode of a window of a row (read-side slice projection): the
  * pushdown rule rewrites `slice(decode_row(…), s, k)` for ANY nonzero
  * literal start into this — exact builtin semantics (negative start from
  * the end, out-of-range start → empty, window clipped at the row end).
  * Heads, tails and fixed-stride model-input windows on the encoded view
  * decode O(skip + k) per row, never the whole row.
  */
case class DecodeSlice(enc: Expression, header: Expression, codecName: Expression,
                       s: Int, k: Int) extends TernaryExpression {
  require(s != 0, "slice start must be nonzero (builtin Slice semantics)")
  require(k >= 0, "slice length must be non-negative")
  override def first: Expression = enc
  override def second: Expression = header
  override def third: Expression = codecName
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = enc.nullable || header.nullable || codecName.nullable
  override def prettyName: String = "decode_slice"

  @transient private lazy val decoders = new HeaderCache[SliceRowDecoder](SliceDecode.decoder)

  def decodeOne(e: Array[Byte], h: Array[Byte], c: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(decoders.get(c, h).decodeSlice(e, 0, e.length, s, k))

  override protected def nullSafeEval(e: Any, h: Any, c: Any): Any =
    decodeOne(e.asInstanceOf[Array[Byte]], h.asInstanceOf[Array[Byte]],
      c.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("decodeSlice", this, classOf[DecodeSlice].getName)
    nullSafeCodeGen(ctx, ev, (e, h, c) => s"${ev.value} = $ref.decodeOne($e, $h, $c);")
  }

  override protected def withNewChildrenInternal(f: Expression, s2: Expression, t: Expression) =
    copy(enc = f, header = s2, codecName = t)
}

/** Token-domain pattern predicate on a decoded/raw array<int> column. The
  * logical marker the pushdown rule looks for; also the fallback physical
  * path (decode-then-match, the reference's StdEngine baseline,
  * /root/reference/src/algos/StdFind.hpp:25-46).
  */
case class TokenPatternMatch(child: Expression, mode: String, parts: Seq[Seq[Int]])
    extends UnaryExpression {
  private val partsArr: Array[Array[Int]] =
    PatternMode.normalize(mode, parts.map(_.toArray).toArray)
  override def dataType: DataType = BooleanType
  override def prettyName: String = s"tokens_match_$mode"

  def matches(arr: ArrayData): Boolean =
    TokenMatch.eval(mode, partsArr, arr.toIntArray())

  override protected def nullSafeEval(v: Any): Any =
    matches(v.asInstanceOf[ArrayData])

  // stays inside WholeStageCodegen: one static-shaped call per row
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("tokenPatternMatch", this, classOf[TokenPatternMatch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matches($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** A predicate on one encoded row: (enc, header, codec) → boolean through
  * the operator's `prepare`, whose row predicate is cached per (codec,
  * header) — one cache probe per row, then the kernel.
  */
abstract class CompressedRowMatch extends TernaryExpression {
  def enc: Expression
  def header: Expression
  def codecName: Expression
  def prepare(codec: String, header: Array[Byte]): RowPredicate

  @transient private lazy val predicates = new HeaderCache[RowPredicate](prepare)
  override def first: Expression = enc
  override def second: Expression = header
  override def third: Expression = codecName
  override def dataType: DataType = BooleanType

  def matches(bytes: Array[Byte], headerBytes: Array[Byte], codec: UTF8String): Boolean =
    predicates.get(codec, headerBytes)(bytes, 0, bytes.length)

  override protected def nullSafeEval(e: Any, h: Any, c: Any): Any =
    matches(e.asInstanceOf[Array[Byte]], h.asInstanceOf[Array[Byte]], c.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("compressedRowMatch", this, classOf[CompressedRowMatch].getName)
    nullSafeCodeGen(ctx, ev, (e, h, c) => s"${ev.value} = $ref.matches($e, $h, $c);")
  }
}

/** Pattern predicate evaluated directly on compressed row bytes — the
  * engine's raison d'être: each codec's rows match in its own compressed
  * domain ([[graft.core.PatternMatch.prepare]]), one row predicate cached
  * per (codec, chunk header).
  */
case class CompressedPatternMatch(enc: Expression, header: Expression, codecName: Expression,
                                  mode: String, parts: Seq[Seq[Int]])
    extends CompressedRowMatch {
  private val partsArr: Array[Array[Int]] =
    PatternMode.normalize(mode, parts.map(_.toArray).toArray)
  override def prettyName: String = s"compressed_match_$mode"
  override def prepare(codec: String, header: Array[Byte]): RowPredicate =
    PatternMatch.prepare(codec, header, mode, partsArr, escapedBloom = null)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** Token-domain range predicate on a decoded/raw array<int> column:
  * any_token_in_range(tokens, lo, hi). The logical marker the pushdown rule
  * rewrites into [[CompressedRangeMatch]]; also the decode-then-test
  * fallback path.
  */
case class TokenRangeMatch(child: Expression, lo: Int, hi: Int)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "any_token_in_range"

  def matches(arr: ArrayData): Boolean =
    RangeMatch.evalDecoded(arr.toIntArray(), lo, hi)

  override protected def nullSafeEval(v: Any): Any =
    matches(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("tokenRangeMatch", this, classOf[TokenRangeMatch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matches($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Range predicate evaluated directly on compressed row bytes, per codec —
  * see [[graft.core.RangeMatch]] for the kernel inventory.
  */
case class CompressedRangeMatch(enc: Expression, header: Expression, codecName: Expression,
                                lo: Int, hi: Int)
    extends CompressedRowMatch {
  override def prettyName: String = "compressed_range_match"
  override def prepare(codec: String, header: Array[Byte]): RowPredicate =
    RangeMatch.prepare(codec, header, lo, hi)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

object ChunkDocIds {
  /** The children every chunk scan takes, in order. */
  val columns: Seq[String] = Seq("doc_ids", "data", "offsets", "row_count", "symtab", "codec",
    "stats.min_tok", "stats.max_tok", "stats.symbol_bitmap", "stats.escaped_bitmap")
}

/** Chunk-granularity scan: one eval per CHUNK row runs the operator's row
  * predicate over all of the chunk's rows and returns the matching doc_ids —
  * the header is parsed and the kernel chosen once per chunk (the direct
  * analog of Engine::Scan filling a row-id vector). Subclasses supply only
  * their chunk gate and `prepare` call.
  */
abstract class ChunkDocIds extends Expression {
  // children: ChunkDocIds.columns
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  /** The chunk's row predicate; [[RowPredicate.Never]] skips the chunk. */
  def predicate(codec: String, header: Array[Byte], minTok: Int, maxTok: Int,
                bloom: Array[Byte], escaped: Array[Byte]): RowPredicate

  // One eval per CHUNK row, but keeping it codegen'd keeps the enclosing
  // scan + Generate inside a single WholeStageCodegen stage.
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("chunkDocIds", this, classOf[ChunkDocIds].getName)
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val types = Seq("byte[]", "byte[]", "byte[]", "int", "byte[]",
      "org.apache.spark.unsafe.types.UTF8String", "int", "int", "byte[]", "byte[]")
    val args = types.zip(evals).map { case (t, e) => s"($t) ${e.value}" }.mkString(", ")
    val code =
      code"""
        ${evals.map(_.code).mkString("\n")}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if ($anyNull) {
          ${ev.value} = $ref.emptyResult();
        } else {
          ${ev.value} = $ref.matchChunk($args);
        }
      """
    ev.copy(code = code, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  def emptyResult(): ArrayData = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) emptyResult()
    else matchChunk(vals(0).asInstanceOf[Array[Byte]], vals(1).asInstanceOf[Array[Byte]],
      vals(2).asInstanceOf[Array[Byte]], vals(3).asInstanceOf[Int],
      vals(4).asInstanceOf[Array[Byte]], vals(5).asInstanceOf[UTF8String],
      vals(6).asInstanceOf[Int], vals(7).asInstanceOf[Int],
      vals(8).asInstanceOf[Array[Byte]], vals(9).asInstanceOf[Array[Byte]])
  }

  def matchChunk(packedIds: Array[Byte], data: Array[Byte], offBytes: Array[Byte],
                 rowCount: Int, header: Array[Byte], codec: UTF8String,
                 minTok: Int, maxTok: Int, bloom: Array[Byte], escaped: Array[Byte]): ArrayData = {
    val rowMatch = predicate(codec.toString, header, minTok, maxTok, bloom, escaped)
    if (rowMatch eq RowPredicate.Never) return emptyResult()
    val offs = Offsets.unpack(offBytes, rowCount)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val ids = PackedIds.cursor(packedIds)
    var i = 0
    while (i < rowCount) {
      if (rowMatch(data, offs(i), offs(i + 1))) out += ids.next() else ids.skip()
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Chunk-granularity range scan: zone-map gate on the chunk's min/max token
  * (the token analog of parquet min/max pruning — a disjoint chunk is
  * skipped without touching `data`), then the compressed-domain kernel over
  * all rows.
  */
case class ChunkRangeDocIds(children: Seq[Expression], lo: Int, hi: Int)
    extends ChunkDocIds {
  override def prettyName: String = "chunk_range"
  override def predicate(codec: String, header: Array[Byte], minTok: Int, maxTok: Int,
                         bloom: Array[Byte], escaped: Array[Byte]): RowPredicate =
    if (!RangeMatch.chunkOverlaps(minTok, maxTok, lo, hi)) RowPredicate.Never
    else RangeMatch.prepare(codec, header, lo, hi)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** Token count of an ENCODED row, read from the uniform varUInt(n) row
  * prefix every codec writes — O(prefix bytes) per row, no decode. The
  * pushdown rule rewrites `size(decode_row(enc,…))` into this, so length
  * filters and length projections on the encoded view never touch a
  * decoder (document-length filtering is a standard training-pipeline
  * gate).
  */
case class RowTokenCount(enc: Expression) extends UnaryExpression {
  override def child: Expression = enc
  override def dataType: DataType = IntegerType
  override def prettyName: String = "row_token_count"

  def count(bytes: Array[Byte]): Int = {
    var pos = 0
    var n = 0
    var shift = 0
    var b = 0
    do {
      b = bytes(pos) & 0xff; pos += 1
      n |= (b & 0x7f) << shift; shift += 7
    } while ((b & 0x80) != 0)
    n
  }

  override protected def nullSafeEval(v: Any): Any =
    count(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("rowTokenCount", this, classOf[RowTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(enc = c)
}

/** Token-domain set-membership predicate (any_token_in_set) on a decoded/raw
  * array<int> column — the blocklist/allowlist filter; logical marker for
  * the pushdown rewrite into [[CompressedSetMatch]].
  */
case class TokenSetMatch(child: Expression, tokens: Seq[Int])
    extends UnaryExpression {
  private val sorted: Array[Int] = SetMatch.sortedSet(tokens.toArray)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "any_token_in_set"

  def matches(arr: ArrayData): Boolean =
    SetMatch.evalDecoded(arr.toIntArray(), sorted)

  override protected def nullSafeEval(v: Any): Any =
    matches(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("tokenSetMatch", this, classOf[TokenSetMatch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matches($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Set-membership predicate on compressed row bytes — see
  * [[graft.core.SetMatch]] for the per-codec kernels.
  */
case class CompressedSetMatch(enc: Expression, header: Expression, codecName: Expression,
                              tokens: Seq[Int])
    extends CompressedRowMatch {
  private val sorted: Array[Int] = SetMatch.sortedSet(tokens.toArray)
  override def prettyName: String = "compressed_set_match"
  override def prepare(codec: String, header: Array[Byte]): RowPredicate =
    SetMatch.prepare(codec, header, sorted)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** Chunk-granularity set scan with BOTH gates: zone map (set disjoint from
  * the chunk's [min,max] token) and the token bloom (no set element
  * may-present) — the ANY-semantics dual of the pattern scan's
  * ALL-tokens-required gate — then the compressed-domain kernel over all
  * rows.
  */
case class ChunkSetDocIds(children: Seq[Expression], tokens: Seq[Int])
    extends ChunkDocIds {
  private val sorted: Array[Int] = SetMatch.sortedSet(tokens.toArray)
  override def prettyName: String = "chunk_set"
  override def predicate(codec: String, header: Array[Byte], minTok: Int, maxTok: Int,
                         bloom: Array[Byte], escaped: Array[Byte]): RowPredicate =
    if (!SetMatch.chunkMayHit(sorted, minTok, maxTok, bloom)) RowPredicate.Never
    else SetMatch.prepare(codec, header, sorted)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** Chunk-granularity pattern scan. Bloom gate first: if any pattern token is
  * absent from the chunk's token bloom, the whole chunk is skipped
  * (chunk-level analog of required-symbol skipping, SURVEY.md §4 O4); FSST
  * chunks then get the escaped-bloom spelling gate inside
  * [[graft.core.PatternMatch.prepare]].
  */
case class ChunkMatchDocIds(children: Seq[Expression], mode: String, parts: Seq[Seq[Int]])
    extends ChunkDocIds {
  private val partsArr: Array[Array[Int]] =
    PatternMode.normalize(mode, parts.map(_.toArray).toArray)
  override def prettyName: String = s"chunk_match_$mode"
  override def predicate(codec: String, header: Array[Byte], minTok: Int, maxTok: Int,
                         bloom: Array[Byte], escaped: Array[Byte]): RowPredicate =
    if (!PatternMatch.chunkMayMatch(bloom, partsArr)) RowPredicate.Never
    else PatternMatch.prepare(codec, header, mode, partsArr, escaped)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** One chunk row as a per-document generator's kernel sees it: the row
  * planes, and — when the generator reads them — the codec header and the
  * chunk's zone map and token bloom (null / 0 past the generator's prefix
  * of [[DocRowsGenerator.columns]]).
  */
final class ChunkRows(val data: Array[Byte], val offs: Array[Int], val rows: Int,
                      val header: Array[Byte], val codec: String,
                      val minTok: Int, val maxTok: Int, val bloom: Array[Byte])

/** A kernel's answer for one chunk: how many rows document i emits, and
  * what row j of document i holds.
  */
trait DocRows {
  def count(i: Int): Int = 1
  def row(id: UTF8String, i: Int, j: Int): InternalRow
}

object DocRowsGenerator {
  /** The children of every per-document generator, in order; each generator
    * takes the prefix it reads, so metadata-only generators never touch the
    * header or the stats.
    */
  val columns: Seq[String] = Seq("doc_ids", "data", "offsets", "row_count", "symtab", "codec",
    "stats.min_tok", "stats.max_tok", "stats.symbol_bitmap")
  /** The id slab and the row planes. */
  val slabs: Seq[String] = columns.take(4)
  /** Plus the codec and its header. */
  val coded: Seq[String] = columns.take(6)
  /** Plus the zone map and the token bloom. */
  val gated: Seq[String] = columns
}

/** Lazy generator emitting rows per encoded document straight off a chunk
  * row. The base evaluates the children, skips empty chunks, unpacks the
  * offsets, reads the codec and header, runs the subclass's [[kernel]] once
  * per chunk and walks the packed id slab with one [[PackedIds.Cursor]]:
  * doc ids are zero-copy UTF8String views (GenerateExec's output projection
  * copies each row before the next is requested) and documents that emit no
  * row skip their id without building it. Subclasses give their schema,
  * name and kernel; their first constructor parameter is `children`.
  */
abstract class DocRowsGenerator extends Expression with Generator with CodegenFallback {
  protected def kernel(c: ChunkRows): DocRows

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = children.map(_.eval(input)).toArray
    val rows = v(3).asInstanceOf[Int]
    if (rows == 0) return Iterator.empty
    def at(i: Int): Any = if (i < v.length) v(i) else null
    val c = new ChunkRows(v(1).asInstanceOf[Array[Byte]],
      Offsets.unpack(v(2).asInstanceOf[Array[Byte]], rows), rows,
      at(4).asInstanceOf[Array[Byte]], if (at(5) == null) null else at(5).toString,
      at(6).asInstanceOf[Int], at(7).asInstanceOf[Int], at(8).asInstanceOf[Array[Byte]])
    val out = kernel(c)
    val ids = PackedIds.cursor(v(0).asInstanceOf[Array[Byte]])
    new Iterator[InternalRow] {
      private var i = 0 // document
      private var j = 0 // row of document i
      private var n = 0 // rows document i emits
      private var id: UTF8String = _
      seek()
      /** Move from document i to the first document that emits a row. */
      private def seek(): Unit = {
        while (i < rows && { n = out.count(i); n == 0 }) { ids.skip(); i += 1 }
        if (i < rows) id = ids.next()
      }
      def hasNext: Boolean = i < rows
      def next(): InternalRow = {
        val r = out.row(id, i, j)
        j += 1
        if (j == n) { i += 1; j = 0; seek() }
        r
      }
    }
  }

  // the same case class with new children and the same parameters
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    makeCopy((cs +: productIterator.drop(1).toSeq).map(_.asInstanceOf[AnyRef]).toArray)
}

/** encoded_rows — the per-document encoded view: one (doc_id, enc) row per
  * document, `enc` the row's byte slice (the only per-row allocation besides
  * the id view). Replaces the round-4 `arrays_zip(unpack_ids, row_slices) +
  * explode` formulation, which materialized ALL row slices plus an id array
  * (~2× chunk memory) as intermediate GenericArrayData before exploding.
  */
case class EncodedRowsGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("enc", BinaryType, nullable = false)))
  override def prettyName: String = "encoded_rows"
  override protected def kernel(c: ChunkRows): DocRows = (id, i, _) =>
    new GenericInternalRow(Array[Any](id,
      java.util.Arrays.copyOfRange(c.data, c.offs(i), c.offs(i + 1))))
}

/** row_meta — one (doc_id, n_tok) row per encoded document, reading ONLY the
  * packed id slab and each row's leading varint token count, through one
  * reused row. No decode, no enc-slice copy: the metadata projection that
  * drives planning-style operators (sequence packing, length stats,
  * sampling manifests) off a compressed table — the chunk's `data` blob is
  * touched for exactly rowCount varints (≤5 bytes each) at the row offsets.
  */
case class RowMetaGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false)))
  override def prettyName: String = "row_meta"
  override protected def kernel(c: ChunkRows): DocRows = {
    val out = new GenericInternalRow(2)
    (id, i, _) => {
      // the row's encoding leads with its varint token count
      var q = c.offs(i); var n = 0; var shift = 0; var b = 0
      do {
        b = c.data(q) & 0xff; q += 1
        n |= (b & 0x7f) << shift; shift += 7
      } while ((b & 0x80) != 0)
      out.update(0, id)
      out.setInt(1, n)
      out
    }
  }
}

/** Chunk-granularity token histogram: (token, count) pairs for one whole
  * chunk computed in the codec's own compressed domain (CountMatch kernels) —
  * code-byte counting + one symbol expansion for FSST, run-sum for RLE,
  * index counting for dict, packed-value counting for for/bitpack. No decoded
  * row ever materializes; downstream `explode` + groupBy(token) merges chunk
  * histograms under Spark's partial aggregation, so the shuffle carries at
  * most |vocabulary| rows per map task regardless of corpus size.
  */
case class ChunkTokenCounts(children: Seq[Expression]) extends Expression {
  // children: data, offsets, row_count, symtab, codec, min_tok, max_tok
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "chunk_token_counts"

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("chunkTokenCounts", this, classOf[ChunkTokenCounts].getName)
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = Seq(
      s"(byte[]) ${evals(0).value}", s"(byte[]) ${evals(1).value}",
      s"(int) ${evals(2).value}", s"(byte[]) ${evals(3).value}",
      s"(org.apache.spark.unsafe.types.UTF8String) ${evals(4).value}",
      s"(int) ${evals(5).value}", s"(int) ${evals(6).value}").mkString(", ")
    val code =
      code"""
        ${evals.map(_.code).mkString("\n")}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if ($anyNull) {
          ${ev.value} = $ref.emptyResult();
        } else {
          ${ev.value} = $ref.countChunk($args);
        }
      """
    ev.copy(code = code, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  def emptyResult(): ArrayData = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) emptyResult()
    else countChunk(vals(0).asInstanceOf[Array[Byte]], vals(1).asInstanceOf[Array[Byte]],
      vals(2).asInstanceOf[Int], vals(3).asInstanceOf[Array[Byte]],
      vals(4).asInstanceOf[UTF8String], vals(5).asInstanceOf[Int], vals(6).asInstanceOf[Int])
  }

  def countChunk(data: Array[Byte], offBytes: Array[Byte], rowCount: Int,
                 header: Array[Byte], codecU: UTF8String,
                 minTok: Int, maxTok: Int): ArrayData = {
    val offs = Offsets.unpack(offBytes, rowCount)
    // stats-driven sink: dense fold when the span fits, sorted fold when it
    // does not (CountMatch.TokenSortedFold — replaces the sparse LongMap)
    val (toks, cnts) = CountMatch.chunkCountsAuto(codecU.toString, header, data,
      offs, rowCount, minTok, maxTok)
    val rows = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      rows(i) = new GenericInternalRow(Array[Any](toks(i), cnts(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** bigram_counts(data, offsets, row_count, symtab, codec, min_tok, max_tok) —
  * lazy generator emitting one (t1, t2, cnt) row per DISTINCT adjacent token
  * pair of the chunk, computed in the codec's compressed domain
  * (CountMatch.chunkBigrams) — the pair-count statistic behind BPE-style
  * merge analysis, without decoding a row. FSST counts a 256×256
  * code-transition matrix + per-code occurrences and expands both once per
  * chunk; RLE contributes (v,v)×(run−1) per run. Rows stream straight off
  * the counter's three primitive result arrays through ONE reused mutable
  * row (GenerateExec projects each emitted row to unsafe before the next
  * call) — the previous eager-expression + explode shape materialized every
  * distinct pair twice (boxed struct array, then explode's copy) before the
  * partial aggregate saw it, which on wide-vocab chunks allocated millions
  * of short-lived rows per chunk.
  */
case class BigramCountsGenerator(children: Seq[Expression])
    extends Expression with Generator with CodegenFallback {
  // children: data, offsets, row_count, symtab, codec, min_tok, max_tok
  // (t1, t2) is emitted PACKED into one long — (t1 << 32) | (t2 zero-
  // extended), a bijection that round-trips any int32 pair exactly — so the
  // downstream groupBy aggregates one 8-byte key instead of two int columns
  // (narrower agg-buffer rows, one-column hashing); the consumer unpacks
  // after the aggregation (query/Graft.bigramHistogram).
  override def elementSchema: StructType = StructType(Seq(
    StructField("pair", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
  override def prettyName: String = "bigram_counts"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) return Iterator.empty
    val rowCount = vals(2).asInstanceOf[Int]
    if (rowCount == 0) return Iterator.empty
    val offs = Offsets.unpack(vals(1).asInstanceOf[Array[Byte]], rowCount)
    // stats-driven sink: narrow spans fold per chunk (dense counter), wide
    // spans stream raw triples — the sparse-map fold was the dominant cost
    // of the compressed bigram histogram (see CountMatch.BigramAppender)
    val (t1s, t2s, cnts) = CountMatch.chunkBigramsAuto(
      vals(4).asInstanceOf[UTF8String].toString, vals(3).asInstanceOf[Array[Byte]],
      vals(0).asInstanceOf[Array[Byte]], offs, rowCount,
      vals(5).asInstanceOf[Int], vals(6).asInstanceOf[Int])
    val out = new GenericInternalRow(2)
    new Iterator[InternalRow] {
      private var i = 0
      def hasNext: Boolean = i < t1s.length
      def next(): InternalRow = {
        out.setLong(0, (t1s(i).toLong << 32) | (t2s(i).toLong & 0xffffffffL))
        out.setLong(1, cnts(i))
        i += 1
        out
      }
    }
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** content_hashes — one (doc_id, h1, h2) row per encoded document, where
  * (h1, h2) is the 128-bit compressed-domain content hash of the row's
  * decoded token sequence (HashMatch kernels: FSST code-fragment streaming,
  * RLE closed-form run folds, dict/packed table loads — no decoded array
  * ever materializes). The only per-chunk allocation is 16 bytes/row of hash
  * lanes. Downstream groupBy(h1, h2) dedups exactly while shuffling 16-byte
  * keys instead of token payloads.
  */
case class ContentHashesGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
  override def prettyName: String = "content_hashes"
  override protected def kernel(c: ChunkRows): DocRows = {
    val (h1, h2) = HashMatch.chunkRowHashes(c.codec, c.header, c.data, c.offs, c.rows)
    (id, i, _) => new GenericInternalRow(Array[Any](id, h1(i), h2(i)))
  }
}

/** minhash_rows — one (doc_id, grams?, sig, n_tok) row per encoded document
  * with at least `shingleN` tokens, where sig is the k-permutation MinHash
  * signature and grams the sorted distinct shingle-hash set, both computed
  * by streaming the codec's wire format through a rolling window
  * (core/MinHashMatch) — bit-identical to ShingleHashes + MinHashSig on the
  * decoded array, with no decoded array in the plan. Rows shorter than the
  * shingle length are dropped here, mirroring the decoded path's
  * `n_tok >= shingleN` filter (their all-sentinel signatures would
  * otherwise band every short row with every other short row).
  * With collectGrams=false the grams column is an empty array per row —
  * sig-only callers skip the O(n_tok) gram allocation entirely.
  */
case class MinHashRowsGenerator(children: Seq[Expression], shingleN: Int, numHashes: Int,
                                seed: Long, collectGrams: Boolean) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("grams", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false)))
  override def prettyName: String = "minhash_rows"
  override protected def kernel(c: ChunkRows): DocRows = {
    val (grams, sigs, nToks) = MinHashMatch.chunkRowSigs(c.codec, c.header, c.data,
      c.offs, c.rows, shingleN, numHashes, seed, collectGrams)
    val empty = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    new DocRows {
      override def count(i: Int): Int = if (nToks(i) >= shingleN) 1 else 0
      def row(id: UTF8String, i: Int, j: Int): InternalRow = {
        val g = if (collectGrams) UnsafeArrayData.fromPrimitiveArray(grams(i)) else empty
        new GenericInternalRow(Array[Any](id, g,
          UnsafeArrayData.fromPrimitiveArray(sigs(i)), nToks(i)))
      }
    }
  }
}

/** simhash_rows — one (doc_id, sig) row per encoded document, where sig is
  * the 64-bit unigram SimHash computed by streaming the codec's wire format
  * through the majority-vote accumulator (core/SimHashMatch) —
  * bit-identical to SimHash64 on the decoded array, with no decoded array
  * in the plan. Every row is emitted (the decoded path applies no length
  * filter; an empty row hashes to 0 on both paths).
  */
case class SimHashRowsGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("sig", LongType, nullable = false)))
  override def prettyName: String = "simhash_rows"
  override protected def kernel(c: ChunkRows): DocRows = {
    val sigs = SimHashMatch.chunkRowSigs(c.codec, c.header, c.data, c.offs, c.rows)
    (id, i, _) => new GenericInternalRow(Array[Any](id, sigs(i)))
  }
}

/** winnow_rows — one (doc_id, fingerprint) row per encoded document, where
  * fingerprint is the winnowing document signature (k-gram rolling hashes,
  * minimum per window of w, distinct sorted) computed by streaming the
  * codec's wire format through core/WinnowMatch — bit-identical to
  * WinnowFingerprint on the decoded array, with no decoded array in the
  * plan. Rows shorter than the gram length get an empty fingerprint, same
  * as the decoded expression (the downstream explode drops them).
  */
case class WinnowRowsGenerator(children: Seq[Expression], k: Int, w: Int)
    extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("fingerprint", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "winnow_rows"
  override protected def kernel(c: ChunkRows): DocRows = {
    val fps = WinnowMatch.chunkRowFingerprints(c.codec, c.header, c.data, c.offs, c.rows, k, w)
    (id, i, _) => new GenericInternalRow(Array[Any](id, UnsafeArrayData.fromPrimitiveArray(fps(i))))
  }
}

/** span_blocks — one (doc_id, blk, h1, h2) row per non-overlapping k-token
  * block of each encoded document, where (h1, h2) is the 128-bit polynomial
  * block hash (core/SpanMatch, HashMatch's lanes) computed by streaming the
  * codec's wire format — no decoded token array and no materialized
  * block-content arrays in the plan. Trailing partial blocks are dropped,
  * mirroring the decoded path.
  */
case class SpanBlocksGenerator(children: Seq[Expression], k: Int) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("blk", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
  override def prettyName: String = "span_blocks"
  override protected def kernel(c: ChunkRows): DocRows = {
    val (l1, l2) = SpanMatch.chunkRowBlocks(c.codec, c.header, c.data, c.offs, c.rows, k)
    new DocRows {
      override def count(i: Int): Int = l1(i).length
      def row(id: UTF8String, i: Int, j: Int): InternalRow =
        new GenericInternalRow(Array[Any](id, j, l1(i)(j), l2(i)(j)))
    }
  }
}

/** set_counts — one (doc_id, n_tok, n_in_set) row per encoded document,
  * where n_in_set counts the document's tokens that belong to the (sorted)
  * literal set — blocklist density / rare-token scoring off compressed
  * storage (core/SetCountMatch). Behind the zone-map + bloom gate
  * ([[graft.core.SetMatch.chunkMayHit]], as in ChunkSetDocIds) a chunk that
  * cannot contain any set member emits its rows at METADATA cost (id slab +
  * each row's leading varint) with n_in_set = 0, never touching the data
  * plane — at 100 TB a rare set prices the whole pass near the id-slab scan.
  */
case class SetCountsGenerator(children: Seq[Expression], tokens: Seq[Int])
    extends DocRowsGenerator {
  private val sorted: Array[Int] = SetMatch.sortedSet(tokens.toArray)
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_in_set", LongType, nullable = false)))
  override def prettyName: String = "set_counts"
  override protected def kernel(c: ChunkRows): DocRows = {
    val (counts, nToks) =
      if (!SetMatch.chunkMayHit(sorted, c.minTok, c.maxTok, c.bloom))
        (null: Array[Long], SetCountMatch.rowTokenCounts(c.data, c.offs, c.rows))
      else SetCountMatch.chunkRowSetCounts(c.codec, c.header, c.data, c.offs, c.rows, sorted)
    (id, i, _) =>
      new GenericInternalRow(Array[Any](id, nToks(i), if (counts == null) 0L else counts(i)))
  }
}

/** token_pos — one (doc_id, n_tok, first_pos) row per encoded document,
  * where first_pos is the 1-based position of the first occurrence of the
  * target token (0 when absent) — the `array_position` /
  * split-point-discovery primitive (first EOS, separator, special token) off
  * compressed storage (core/PosMatch). The same gate as set_counts with a
  * single-token set: a chunk that cannot contain the target emits its rows
  * at METADATA cost with first_pos = 0, never touching the data plane.
  */
case class TokenPosGenerator(children: Seq[Expression], target: Int) extends DocRowsGenerator {
  private val sorted: Array[Int] = Array(target)
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("first_pos", IntegerType, nullable = false)))
  override def prettyName: String = "token_pos"
  override protected def kernel(c: ChunkRows): DocRows = {
    val (poss, nToks) =
      if (!SetMatch.chunkMayHit(sorted, c.minTok, c.maxTok, c.bloom))
        (null: Array[Int], SetCountMatch.rowTokenCounts(c.data, c.offs, c.rows))
      else PosMatch.chunkFirstPositions(c.codec, c.header, c.data, c.offs, c.rows, target)
    (id, i, _) =>
      new GenericInternalRow(Array[Any](id, nToks(i), if (poss == null) 0 else poss(i)))
  }
}

/** quality_profiles — one (doc_id, n_tok, n_distinct, max_run, top_cnt) row
  * per encoded document: the token-domain quality profile (exact distinct
  * count, longest equal-token run, mode weight) computed in each codec's
  * wire format (core/QualityMatch) — a C4/Gopher-style quality gate over a
  * compressed corpus without decoding a single token array.
  */
case class QualityGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("max_run", IntegerType, nullable = false),
    StructField("top_cnt", IntegerType, nullable = false)))
  override def prettyName: String = "quality_profiles"
  override protected def kernel(c: ChunkRows): DocRows = {
    val p = QualityMatch.chunkRowProfiles(c.codec, c.header, c.data, c.offs, c.rows)
    (id, i, _) => new GenericInternalRow(Array[Any](id, p.nTok(i),
      p.nDistinct(i), p.maxRun(i), p.topCnt(i)))
  }
}
