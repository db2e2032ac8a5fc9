package graft.query

import graft.core._
import graft.format.{ChunkOps, EncodedChunk, Offsets}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The per-row expressions cache one row predicate per (codec, header), and
  * each operator's `prepare` skips a chunk only on proof. A header alone is
  * ambiguous — bitpack and for share the 1-byte width header, rle and raw
  * both have an empty one — so one expression instance evaluates the rows of
  * two such chunks, interleaved, against the decoded-domain oracle.
  */
class RowPredicateSpec extends AnyFunSuite {

  private def chunk(codec: String, rows: IndexedSeq[Array[Int]]): EncodedChunk =
    ChunkOps.build(1L, 0, rows.indices.map(i => s"d$i").toArray, "s",
      TokenRows.ofArrays(rows), forceCodec = Some(codec))

  /** (encoded row bytes, decoded row) per row of the chunk. */
  private def rowsOf(c: EncodedChunk): IndexedSeq[(Array[Byte], Array[Int])] = {
    val offs = Offsets.unpack(c.offsets, c.row_count)
    val decoded = ChunkOps.decodeAll(c).map(_.tokens).toIndexedSeq
    decoded.indices.map(i => (java.util.Arrays.copyOfRange(c.data, offs(i), offs(i + 1)), decoded(i)))
  }

  private def genRows(rnd: Random, lo: Int, hi: Int): IndexedSeq[Array[Int]] =
    IndexedSeq.fill(40) {
      // short runs, so RLE has runs to fold and patterns span them
      Array.fill(rnd.nextInt(5))(Array.fill(1 + rnd.nextInt(3))(lo + rnd.nextInt(hi - lo + 1)))
        .flatten
    }

  /** Row slices (present patterns) and random tokens (often absent). */
  private def genPatterns(rnd: Random, rows: IndexedSeq[Array[Int]], lo: Int, hi: Int,
                          mode: String): Seq[Array[Array[Int]]] = {
    def slice(): Array[Int] = {
      val r = rows(rnd.nextInt(rows.length))
      if (r.isEmpty) Array.fill(1 + rnd.nextInt(2))(lo + rnd.nextInt(hi - lo + 1))
      else mode match {
        case PatternMode.Equals => r
        case PatternMode.Prefix => r.take(1 + rnd.nextInt(r.length))
        case PatternMode.Suffix => r.takeRight(1 + rnd.nextInt(r.length))
        case _ => val a = rnd.nextInt(r.length); r.slice(a, a + 1 + rnd.nextInt(3))
      }
    }
    Seq.fill(24) {
      val part =
        if (rnd.nextInt(4) == 0) Array.fill(1 + rnd.nextInt(3))(lo + rnd.nextInt(hi - lo + 1))
        else slice()
      if (mode == PatternMode.MultiInfix) Array(part, slice()) else Array(part)
    }
  }

  private val modes = Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix,
    PatternMode.Equals, PatternMode.MultiInfix)

  test("one expression instance keys its row predicate by (codec, header), not header alone") {
    val rnd = new Random(11)
    // bitpack width = bitsFor(chunk max 15); for width = bitsFor(max row
    // range 15): both headers are the single byte 4
    val bp = chunk("bitpack", genRows(rnd, 0, 15) :+ Array(15))
    val fr = chunk("for", genRows(rnd, 4, 19) :+ Array(4, 19))
    val shared = genRows(rnd, -3, 8)
    val rle = chunk("rle", shared)
    val raw = chunk("raw", shared.reverse)
    assert(bp.symtab.sameElements(fr.symtab) && bp.symtab.length == 1)
    assert(rle.symtab.isEmpty && raw.symtab.isEmpty)
    val lit = Literal(Array.emptyByteArray)
    for ((a, b, lo, hi) <- Seq((bp, fr, 0, 19), (rle, raw, -3, 8))) {
      val (rowsA, rowsB) = (rowsOf(a), rowsOf(b))
      val codecA = UTF8String.fromString(a.codec)
      val codecB = UTF8String.fromString(b.codec)
      // every expression sees a row of one chunk, then a row of the other
      def interleaved(test: (Array[Byte], Array[Byte], UTF8String) => Boolean,
                      oracle: Array[Int] => Boolean, what: String): Unit =
        for (i <- 0 until math.max(rowsA.length, rowsB.length);
             (rows, c, codec) <- Seq((rowsA, a, codecA), (rowsB, b, codecB)) if i < rows.length) {
          val (bytes, toks) = rows(i)
          assert(test(bytes, c.symtab, codec) == oracle(toks), s"${c.codec} row $i: $what")
        }
      val allRows = (rowsA ++ rowsB).map(_._2)
      for (mode <- modes; parts <- genPatterns(rnd, allRows, lo, hi, mode)) {
        val e = CompressedPatternMatch(lit, lit, lit, mode, parts.map(_.toSeq).toSeq)
        val norm = PatternMode.normalize(mode, parts)
        interleaved(e.matches, TokenMatch.eval(mode, norm, _),
          s"${e.prettyName} ${parts.map(_.mkString(",")).mkString("|")}")
      }
      for (_ <- 0 until 24) {
        val x = lo - 2 + rnd.nextInt(hi - lo + 5)
        val (rLo, rHi) = (x, x + rnd.nextInt(4))
        val e = CompressedRangeMatch(lit, lit, lit, rLo, rHi)
        interleaved(e.matches, RangeMatch.evalDecoded(_, rLo, rHi), s"range [$rLo,$rHi]")
        val set = Seq.fill(1 + rnd.nextInt(3))(lo - 2 + rnd.nextInt(hi - lo + 5))
        val s = CompressedSetMatch(lit, lit, lit, set)
        interleaved(s.matches, SetMatch.evalDecoded(_, SetMatch.sortedSet(set.toArray)),
          s"set $set")
      }
    }
  }

  test("prepare returns Never only for chunks where no decoded row matches") {
    val rnd = new Random(5)
    // even tokens only: odd tokens are inside every dict's value range but
    // absent from its dictionary, and tokens above 31 overflow bitpack width 5
    var nevers = Map.empty[String, Int].withDefaultValue(0)
    for (round <- 0 until 6; codec <- Codecs.all.map(_.name)) {
      val rows = genRows(rnd, 0, 15).map(_.map(_ * 2)) :+ Array(30)
      val c = chunk(codec, rows)
      val decoded = rowsOf(c).map(_._2)
      val offs = Offsets.unpack(c.offsets, c.row_count)
      def check(p: RowPredicate, oracle: Array[Int] => Boolean, what: String): Unit = {
        val want = decoded.map(oracle)
        if (p eq RowPredicate.Never) {
          assert(!want.contains(true), s"$codec: $what is Never but a decoded row matches")
          nevers += what.takeWhile(_ != ' ') -> (nevers(what.takeWhile(_ != ' ')) + 1)
        } else
          assert(decoded.indices.map(i => p(c.data, offs(i), offs(i + 1))) == want, s"$codec: $what")
      }
      for (mode <- modes; parts <- genPatterns(rnd, rows, 0, 40, mode)) {
        val norm = PatternMode.normalize(mode, parts)
        check(PatternMatch.prepare(c.codec, c.symtab, mode, norm, c.stats.escaped_bitmap),
          TokenMatch.eval(mode, norm, _), s"pattern $mode ${parts.map(_.mkString(",")).mkString("|")}")
      }
      for (_ <- 0 until 24) {
        val x = rnd.nextInt(34)
        val (lo, hi) = (x, x + rnd.nextInt(2))
        check(RangeMatch.prepare(c.codec, c.symtab, lo, hi), RangeMatch.evalDecoded(_, lo, hi),
          s"range [$lo,$hi]")
        val sorted = SetMatch.sortedSet(Array.fill(1 + rnd.nextInt(2))(rnd.nextInt(34)))
        check(SetMatch.prepare(c.codec, c.symtab, sorted), SetMatch.evalDecoded(_, sorted),
          s"set ${sorted.mkString(",")}")
      }
    }
    // each operator's proof fired, so the assertion above is not vacuous
    assert(nevers("pattern") > 0 && nevers("range") > 0 && nevers("set") > 0, nevers.toString)
  }
}
