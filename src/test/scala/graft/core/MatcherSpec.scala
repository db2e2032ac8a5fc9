package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import scala.util.Random

/** DFA equivalence: every compressed-domain matcher must agree with the
  * token-domain oracle on every (row, pattern) pair — the structural copy of
  * the reference's oracle dual-run (/root/reference/sketch.cc:1333-1337) and
  * its notebook cross-validation (algorithm.ipynb cell-1 asserts).
  */
class MatcherSpec extends AnyFunSuite {

  def checkProp(p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** Small alphabet so patterns actually occur and symbols overlap patterns. */
  private val genRow: Gen[Array[Int]] =
    Gen.choose(0, 120).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 6)))
  private val genPart: Gen[Array[Int]] =
    Gen.choose(1, 9).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 6)))

  private def encodeAll(rows: IndexedSeq[Array[Int]]): (SymTab, Array[Byte], Array[Int]) = {
    val header = FsstTokenCodec.buildHeader(rows, ChunkStats.compute(rows))
    val st = SymTab.fromBytes(header)
    val enc = FsstTokenCodec.encoder(header)
    val out = new ByteWriter()
    val offsets = new Array[Int](rows.length + 1)
    rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offsets(i + 1) = out.size }
    (st, out.toBytes, offsets)
  }

  test("single-part matchers agree with token oracle (property)") {
    checkProp(Prop.forAll(Gen.listOfN(20, genRow), genPart) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val (st, data, off) = encodeAll(rows)
      val pm = new PatternMachine(Array(part), st)
      rows.indices.forall { i =>
        val r = rows(i)
        FsstMatch.contains(data, off(i), off(i + 1), pm) == TokenMatch.contains(r, part) &&
        FsstMatch.prefix(data, off(i), off(i + 1), st, part) == TokenMatch.prefix(r, part) &&
        FsstMatch.suffix(data, off(i), off(i + 1), pm) == TokenMatch.suffix(r, part) &&
        FsstMatch.equalsPat(data, off(i), off(i + 1), st, part) == TokenMatch.equalsPat(r, part)
      }
    })
  }

  test("multi-infix agrees with naive ordered matcher (property)") {
    val genParts = Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, genPart)).map(_.toArray)
    checkProp(Prop.forAll(Gen.listOfN(20, genRow), genParts) { (rowsL, parts) =>
      val rows = rowsL.toIndexedSeq
      val (st, data, off) = encodeAll(rows)
      val pm = new PatternMachine(parts, st)
      rows.indices.forall { i =>
        FsstMatch.multiInfix(data, off(i), off(i + 1), pm) == TokenMatch.multiInfix(rows(i), parts)
      }
    })
  }

  test("suffix trailing-window: escapes in and around the window (property)") {
    // Train the symtab on the small-alphabet projection only, then encode
    // rows that also carry tokens ≥1000 — those MUST escape-encode, so the
    // positional suffix matcher sees escapes in the skip phase, straddling
    // the window edge, and inside the window.
    val genTok = Gen.frequency(8 -> Gen.choose(0, 6), 2 -> Gen.choose(1000, 1006))
    val genRowE = Gen.choose(0, 60).flatMap(n => Gen.containerOfN[Array, Int](n, genTok))
    val genPartE = Gen.choose(1, 9).flatMap(n => Gen.containerOfN[Array, Int](n, genTok))
    checkProp(Prop.forAll(Gen.listOfN(20, genRowE), genPartE) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val header = FsstTokenCodec.buildHeader(
        rows.map(_.filter(_ < 1000)), ChunkStats.compute(rows))
      val st = SymTab.fromBytes(header)
      val enc = FsstTokenCodec.encoder(header)
      val out = new ByteWriter()
      val off = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); off(i + 1) = out.size }
      val data = out.toBytes
      val pm = new PatternMachine(Array(part), st)
      rows.indices.forall { i =>
        FsstMatch.suffix(data, off(i), off(i + 1), pm) == TokenMatch.suffix(rows(i), part)
      }
    })
  }

  test("suffix trailing-window: deterministic window-edge cases") {
    // Rows crafted so trained symbols straddle the window start: pattern
    // (4,5,6) against rows ending ...1 2 3 4 5 6 — the symbol covering
    // 1..6 begins before token index n-3.
    val phrase = Array(1, 2, 3, 4, 5, 6)
    val rows = IndexedSeq(
      phrase,                           // window starts mid-phrase
      Array(9, 9) ++ phrase,            // skip phase then mid-symbol start
      phrase ++ Array(9),               // near-miss: window shifted off the end
      Array(4, 5, 6),                   // n == m, equals-like
      Array(5, 6),                      // n < m
      Array.emptyIntArray,              // empty row
      phrase ++ phrase                  // phrase twice; suffix decided by tail only
    ) ++ (0 until 200).map(_ => phrase) // make the phrase a trained symbol
    val (st, data, off) = encodeAll(rows)
    for (p <- Seq(Array(4, 5, 6), Array(6), Array(1, 2, 3), phrase, Array(9) ++ phrase)) {
      val pm = new PatternMachine(Array(p), st)
      rows.indices.foreach { i =>
        assert(FsstMatch.suffix(data, off(i), off(i + 1), pm) ==
          TokenMatch.suffix(rows(i), p), s"pattern ${p.mkString(",")} row $i")
      }
    }
  }

  test("multi-infix resume-at-stop_pos edge: parts sharing one symbol") {
    // Build rows where a single trained symbol spans the boundary between
    // part1's end and part2's start (MetaStateMachine.hpp:107-112 edge).
    val phrase = Array(1, 2, 3, 4, 5, 6)
    val rows = (0 until 300).map { i =>
      if (i % 3 == 0) Array(9, 9) ++ phrase ++ Array(9)
      else Array(8, 8, 8) ++ phrase ++ phrase
    }
    val (st, data, off) = encodeAll(rows)
    // phrase should be (part of) a symbol after training
    val parts = Array(Array(1, 2, 3), Array(4, 5, 6)) // split inside the symbol
    val pm = new PatternMachine(parts, st)
    rows.indices.foreach { i =>
      assert(FsstMatch.multiInfix(data, off(i), off(i + 1), pm) ==
        TokenMatch.multiInfix(rows(i), parts), s"row $i")
    }
  }

  test("edge patterns: empty, longer-than-row, equal-to-row, absent, everywhere") {
    val rows = IndexedSeq(
      Array.emptyIntArray, Array(5), Array(1, 2, 3), Array.fill(100)(7), (0 until 50).toArray)
    val (st, data, off) = encodeAll(rows)
    def check(mode: String, parts: Array[Array[Int]]): Unit = {
      val pm = new PatternMachine(parts, st)
      rows.indices.foreach { i =>
        assert(FsstMatch.eval(mode, pm, data, off(i), off(i + 1)) ==
          TokenMatch.eval(mode, parts, rows(i)), s"$mode row $i")
      }
    }
    val pats = Seq(
      Array.emptyIntArray, // LIKE '%%' analog: contains/prefix/suffix all true; equals only on empty rows
      Array(1, 2, 3), Array.fill(200)(7), Array(7), Array(99), (0 until 50).toArray)
    for (p <- pats; mode <- Seq("contains", "prefix", "suffix", "equals"))
      check(mode, Array(p))
    check("multi_infix", Array(Array(1), Array(3)))
    check("multi_infix", Array(Array(7), Array(7), Array(7)))
  }

  test("required-code set cover: sound (never gates out a matching row) (property)") {
    checkProp(Prop.forAll(Gen.listOfN(30, genRow), genPart) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val header = FsstTokenCodec.buildHeader(rows, ChunkStats.compute(rows))
      val st = SymTab.fromBytes(header)
      val enc = FsstTokenCodec.encoder(header)
      val out = new ByteWriter()
      val offsets = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offsets(i + 1) = out.size }
      val data = out.toBytes
      val pm = new PatternMachine(Array(part), st)
      pm.requiredCodeTable(enc.escapedBloom) match {
        case Left(_) =>
          // provable no-match: the oracle must agree on every row
          rows.forall(r => !TokenMatch.contains(r, part))
        case Right(null) => true
        case Right(tbl) =>
          rows.indices.forall { i =>
            !TokenMatch.contains(rows(i), part) || {
              var p = offsets(i)
              var hit = false
              while (!hit && p < offsets(i + 1)) { hit = tbl(data(p) & 0xff); p += 1 }
              hit // a matching row must touch a required byte
            }
          }
      }
    }, n = 400)
  }

  test("set-cover gate beats the single-token gate on the zipf corpus (skip rate)") {
    val rnd = new Random(7)
    val hot = Array(11, 12, 13)
    val rows = (0 until 2000).map { i =>
      val n = 30 + rnd.nextInt(60)
      val base = Array.fill(n)(rnd.nextInt(40))
      if (i % 50 == 0) hot.indices.foreach(j => base(5 + j) = hot(j))
      base
    }
    val header = FsstTokenCodec.buildHeader(rows, ChunkStats.compute(rows))
    val st = SymTab.fromBytes(header)
    val enc = FsstTokenCodec.encoder(header)
    val out = new ByteWriter()
    val offsets = new Array[Int](rows.length + 1)
    rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offsets(i + 1) = out.size }
    val data = out.toBytes
    val pm = new PatternMachine(Array(hot), st)
    // the never-weaker floor: the smallest single-token code set
    val floor = hot.toSeq
      .filter(t => !ChunkStats.bloomHas(enc.escapedBloom, t))
      .map(t => pm.codesContaining(t).length).filter(_ > 0)
    pm.requiredCodeTable(enc.escapedBloom) match {
      case Left(_) => fail("pattern is plainly spellable")
      case Right(null) => assert(floor.isEmpty, "token gate existed but cover returned null")
      case Right(tbl) =>
        val size = tbl.count(identity)
        if (floor.nonEmpty) assert(size <= floor.min, s"cover $size > token floor ${floor.min}")
        // and it must actually skip: non-matching rows mostly lack the bytes
        val passed = rows.indices.count { i =>
          var p = offsets(i)
          var hit = false
          while (!hit && p < offsets(i + 1)) { hit = tbl(data(p) & 0xff); p += 1 }
          hit
        }
        val matches = rows.count(TokenMatch.contains(_, hot))
        assert(passed < rows.length, "gate passed every row - no skipping power")
        assert(passed >= matches)
    }
  }

  // ---- dict-domain and RLE-domain matchers (PackedMatch) -----------------

  /** Runs-biased rows: bursts of repeated values so RLE is the natural codec
    * and run-boundary edges (tail/interior/head alignment) get exercised.
    */
  private val genRunRow: Gen[Array[Int]] =
    Gen.choose(0, 12).flatMap(k =>
      Gen.listOfN(k, Gen.zip(Gen.choose(0, 4), Gen.choose(1, 6))))
      .map(_.flatMap { case (v, c) => List.fill(c)(v) }.toArray)
  private val genRunPart: Gen[Array[Int]] =
    Gen.choose(1, 3).flatMap(k =>
      Gen.listOfN(k, Gen.zip(Gen.choose(0, 4), Gen.choose(1, 4))))
      .map(_.flatMap { case (v, c) => List.fill(c)(v) }.toArray)

  private def encodeWith(codec: ChunkCodec, rows: IndexedSeq[Array[Int]]): (Array[Byte], Array[Byte], Array[Int]) = {
    val header = codec.buildHeader(rows, ChunkStats.compute(rows))
    val enc = codec.encoder(header)
    val out = new ByteWriter()
    val offsets = new Array[Int](rows.length + 1)
    rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offsets(i + 1) = out.size }
    (header, out.toBytes, offsets)
  }

  test("RLE-domain matchers agree with token oracle on all modes (property)") {
    checkProp(Prop.forAll(Gen.listOfN(20, genRunRow), genRunPart) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val (_, data, off) = encodeWith(RleCodec, rows)
      val (pv, pc) = RleMatch.patternRuns(part)
      val pvs = Array(pv); val pcs = Array(pc); val lens = Array(part.length)
      rows.indices.forall { i =>
        Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix, PatternMode.Equals)
          .forall { mode =>
            RleMatch.eval(mode, data, off(i), off(i + 1), pvs, pcs, lens) ==
              TokenMatch.eval(mode, Array(part), rows(i))
          }
      }
    })
  }

  test("RLE-domain multi-infix agrees with greedy token oracle (property)") {
    val genParts = Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, genRunPart)).map(_.toArray)
    checkProp(Prop.forAll(Gen.listOfN(20, genRunRow), genParts) { (rowsL, parts0) =>
      val parts = PatternMode.normalize(PatternMode.MultiInfix, parts0)
      val rows = rowsL.toIndexedSeq
      val (_, data, off) = encodeWith(RleCodec, rows)
      val rs = parts.map(RleMatch.patternRuns)
      rows.indices.forall { i =>
        RleMatch.eval(PatternMode.MultiInfix, data, off(i), off(i + 1),
          rs.map(_._1), rs.map(_._2), parts.map(_.length)) ==
          TokenMatch.multiInfix(rows(i), parts)
      }
    })
  }

  test("dict-domain (index-translated) matchers agree with token oracle (property)") {
    checkProp(Prop.forAll(Gen.listOfN(20, genRow), genPart) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val nonEmpty = if (rows.forall(_.isEmpty)) rows :+ Array(1, 2) else rows
      val (header, data, off) = encodeWith(DictCodec, nonEmpty)
      val dict = DictCodec.readDict(header)
      val dec = DictCodec.indexDecoder(header)
      nonEmpty.indices.forall { i =>
        Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix, PatternMode.Equals)
          .forall { mode =>
            val want = TokenMatch.eval(mode, Array(part), nonEmpty(i))
            val gotIdx = DictMatch.translate(dict, Array(part)) match {
              case None => false // token absent from chunk: no row can match
              case Some(idxParts) =>
                TokenMatch.eval(mode, idxParts, dec.decode(data, off(i), off(i + 1)))
            }
            // the engine's in-place path (non-equals modes): phase images
            // over the packed index stream, no per-row index array
            val gotPacked =
              if (mode == PatternMode.Equals) want
              else DictMatch.translate(dict, Array(part)) match {
                case None => false
                case Some(idxParts) =>
                  PackedAnchor.prepareDict(header, mode, idxParts)(data, off(i), off(i + 1))
              }
            gotIdx == want && gotPacked == want
          } && {
            // multi-infix through the same in-place path: ordered greedy
            // over the two halves of the part
            val mi = PatternMode.normalize(PatternMode.MultiInfix,
              Array(part.take(part.length / 2), part.drop(part.length / 2)))
            val wantMi = TokenMatch.multiInfix(nonEmpty(i), mi)
            val gotMi = DictMatch.translate(dict, mi) match {
              case None => false
              case Some(idxParts) =>
                PackedAnchor.prepareDict(header, PatternMode.MultiInfix, idxParts)(
                  data, off(i), off(i + 1))
            }
            gotMi == wantMi
          }
      }
    })
  }

  test("canonical-encoding equality agrees with token oracle for every positional codec (property)") {
    // patterns sometimes contain tokens outside the chunk's value range to
    // exercise the aliasing guards (dict-absent, bitpack width, FoR range)
    val genEqPart: Gen[Array[Int]] = Gen.choose(0, 8).flatMap(n =>
      Gen.containerOfN[Array, Int](n, Gen.frequency(
        8 -> Gen.choose(0, 6), 1 -> Gen.const(999), 1 -> Gen.const(-5))))
    checkProp(Prop.forAll(Gen.listOfN(20, genRow), genEqPart) { (rowsL, part) =>
      val rows0 = rowsL.toIndexedSeq
      val rows = if (rows0.forall(_.isEmpty)) rows0 :+ Array(1, 2) else rows0
      val stats = ChunkStats.compute(rows)
      Seq(DictCodec, RleCodec, ForCodec, BitPackCodec, RawCodec).forall { codec =>
        val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
          !((codec eq BitPackCodec) && stats.minTok < 0)
        !eligible || {
          val (header, data, off) = encodeWith(codec, rows)
          val image = PackedEquals.patternImage(codec.name, header, part)
          rows.indices.forall { i =>
            val got = image.exists(img => PackedEquals.rowEquals(data, off(i), off(i + 1), img))
            got == TokenMatch.equalsPat(rows(i), part)
          }
        }
      }
    }, n = 300)
  }

  test("all-empty-rows chunk: every per-codec kernel survives the empty dictionary (regression)") {
    // an all-empty-rows chunk built with the dict codec has an EMPTY
    // dictionary at width 0 — HashMatch.hashPacked used to load t1(0)
    // eagerly and crash (AIOOBE found by Soak remap-shifted RNG)
    val rows = IndexedSeq.fill(5)(Array.emptyIntArray)
    val ids = rows.indices.map(i => s"d$i").toArray
    for (codec <- Codecs.all) {
      val c = graft.format.ChunkOps.build(1L, 0, ids, "s",
        TokenRows.ofArrays(rows), forceCodec = Some(codec.name))
      val offs = graft.format.Offsets.unpack(c.offsets, c.row_count)
      val (h1, h2) = HashMatch.chunkRowHashes(c.codec, c.symtab, c.data, offs, c.row_count)
      rows.indices.foreach { i =>
        assert(h1(i) == HashMatch.hashTokens1(Array.emptyIntArray, 0, 0), c.codec)
        assert(h2(i) == HashMatch.hashTokens2(Array.emptyIntArray, 0, 0), c.codec)
      }
      // the remaining kernels must agree that nothing matches / counts zero
      rows.indices.foreach { i =>
        assert(!SetMatch.prepare(c.codec, c.symtab, Array(1, 2))(c.data, offs(i), offs(i + 1)), c.codec)
        assert(!RangeMatch.prepare(c.codec, c.symtab, 0, 100)(c.data, offs(i), offs(i + 1)), c.codec)
      }
      val (cnt, ntok) = SetCountMatch.chunkRowSetCounts(
        c.codec, c.symtab, c.data, offs, c.row_count, Array(1, 2))
      assert(cnt.forall(_ == 0L) && ntok.forall(_ == 0L), c.codec)
      val (ctoks, ccnts) = CountMatch.chunkCounts(c.codec, c.symtab, c.data, offs, c.row_count, 0, 10)
      assert(ctoks.isEmpty && ccnts.isEmpty, c.codec)
      val (ba, bb, bc) = CountMatch.chunkBigrams(c.codec, c.symtab, c.data, offs, c.row_count, 0, 10)
      assert(ba.isEmpty && bb.isEmpty && bc.isEmpty, c.codec)
      val decoded = graft.format.ChunkOps.decodeAll(c).toIndexedSeq
      assert(decoded.length == rows.length && decoded.forall(_.tokens.isEmpty), c.codec)
    }
  }

  test("zipf corpus: planted phrase found exactly (hero %special% analog)") {
    val rnd = new Random(42)
    val hot = Array(1001, 1002, 1003) // "special requests" analog
    val rows = (0 until 2000).map { i =>
      val n = 20 + rnd.nextInt(80)
      val base = Array.fill(n)(rnd.nextInt(30000))
      if (i % 100 == 0) {
        val at = rnd.nextInt(n - 3)
        hot.indices.foreach(j => base(at + j) = hot(j))
      }
      base
    }
    val (st, data, off) = encodeAll(rows)
    val pm = new PatternMachine(Array(hot), st)
    val got = rows.indices.filter(i => FsstMatch.contains(data, off(i), off(i + 1), pm))
    val want = rows.indices.filter(i => TokenMatch.contains(rows(i), hot))
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("sorted-fold sinks sum to the folded bigram/token histograms per codec") {
    // token range wide enough to force BOTH sorted-fold paths (bigram span > 1024, token span > 2M) + repeats (so
    // duplicate triples actually occur and must merge correctly downstream)
    val rnd = new Random(7)
    val rows = (0 until 40).map { _ =>
      val n = rnd.nextInt(60)
      Array.fill(n)(if (rnd.nextBoolean()) rnd.nextInt(5) else rnd.nextInt(50000000))
    }
    val stats = ChunkStats.compute(rows)
    for (codec <- Codecs.all) {
      val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
        !((codec eq BitPackCodec) && stats.minTok < 0)
      if (eligible) {
        val header = codec.buildHeader(rows, stats)
        val enc = codec.encoder(header)
        val out = new ByteWriter()
        val offs = new Array[Int](rows.length + 1)
        rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
        def summed(t: (Array[Int], Array[Int], Array[Long])): Map[(Int, Int), Long] = {
          val m = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
          t._1.indices.foreach { i =>
            val k = (t._1(i), t._2(i))
            m(k) = m.getOrElse(k, 0L) + t._3(i)
          }
          m.toMap
        }
        val folded = summed(CountMatch.chunkBigrams(codec.name, header, out.toBytes,
          offs, rows.length, stats.minTok, stats.maxTok))
        val streamed = summed(CountMatch.chunkBigramsAuto(codec.name, header, out.toBytes,
          offs, rows.length, stats.minTok, stats.maxTok))
        assert(streamed == folded, codec.name)
        def summed1(t: (Array[Int], Array[Long])): Map[Int, Long] =
          t._1.indices.map(i => t._1(i) -> t._2(i))
            .groupMapReduce(_._1)(_._2)(_ + _)
        val foldedC = summed1(CountMatch.chunkCounts(codec.name, header, out.toBytes,
          offs, rows.length, stats.minTok, stats.maxTok))
        val streamedC = summed1(CountMatch.chunkCountsAuto(codec.name, header, out.toBytes,
          offs, rows.length, stats.minTok, stats.maxTok))
        assert(streamedC == foldedC, codec.name)
      }
    }
  }
}
