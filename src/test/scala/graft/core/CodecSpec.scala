package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import scala.util.Random

/** Kernel-level round-trip + matcher-equivalence properties (SURVEY.md §5,
  * FIXTURES.md §4): decode(encode(xs)) == xs for every codec on adversarial
  * generators; compressed matchers == token-domain oracle matchers.
  */
class CodecSpec extends AnyFunSuite {

  def checkProp(p: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // --- deterministic corpora (FIXTURES.md §1 distributions, miniature) ------

  private def zipfRows(seed: Int, nRows: Int, vocab: Int): IndexedSeq[Array[Int]] = {
    val rnd = new Random(seed)
    // 64 hot phrases of 2..8 tokens injected with p=0.2
    val phrases = Array.fill(64)(Array.fill(2 + rnd.nextInt(7))(rnd.nextInt(vocab)))
    (0 until nRows).map { _ =>
      val n = 1 + rnd.nextInt(120)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (buf.length < n) {
        if (rnd.nextDouble() < 0.2) buf ++= phrases(rnd.nextInt(64))
        else buf += (vocab * math.pow(rnd.nextDouble(), 3)).toInt // skewed
      }
      buf.take(n).toArray
    }
  }

  private def runsRows(seed: Int, nRows: Int): IndexedSeq[Array[Int]] = {
    val rnd = new Random(seed)
    (0 until nRows).map { _ =>
      val n = rnd.nextInt(200)
      val buf = new Array[Int](n)
      var i = 0
      var v = rnd.nextInt(100)
      while (i < n) {
        if (rnd.nextDouble() < 0.05) v = rnd.nextInt(100)
        buf(i) = v
        i += 1
      }
      buf
    }
  }

  private val genToks: Gen[Array[Int]] = Gen.oneOf(
    Gen.const(Array.emptyIntArray),
    Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)).map(_.toArray),
    Gen.listOf(Gen.choose(0, 5)).map(_.toArray),
    Gen.choose(0, 3000).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 50)))
  )

  private def roundTrip(codec: ChunkCodec, rows: IndexedSeq[Array[Int]]): Unit = {
    val stats = ChunkStats.compute(rows)
    if ((codec eq DictCodec) && stats.distinctSorted.isEmpty) return // ineligible
    if ((codec eq BitPackCodec) && stats.minTok < 0) return          // ineligible
    val header = codec.buildHeader(rows, stats)
    val enc = codec.encoder(header)
    val out = new ByteWriter()
    val offsets = new Array[Int](rows.length + 1)
    rows.zipWithIndex.foreach { case (r, i) =>
      enc.encode(r, out); offsets(i + 1) = out.size
    }
    val data = out.toBytes
    val dec = codec.decoder(header)
    rows.zipWithIndex.foreach { case (r, i) =>
      val got = dec.decode(data, offsets(i), offsets(i + 1))
      assert(java.util.Arrays.equals(got, r),
        s"${codec.name} row $i: ${r.take(20).mkString(",")} != ${got.take(20).mkString(",")}")
    }
  }

  for (codec <- Codecs.all) {
    test(s"${codec.name}: round-trip on generated rows") {
      checkProp(Prop.forAll(Gen.listOfN(30, genToks)) { rows =>
        roundTrip(codec, rows.toIndexedSeq); true
      })
    }
    test(s"${codec.name}: round-trip on corpora") {
      roundTrip(codec, zipfRows(42, 200, 32000))
      roundTrip(codec, runsRows(42, 200))
      roundTrip(codec, IndexedSeq(Array.emptyIntArray, Array(7), Array.fill(5000)(3)))
    }
  }

  test("varint zigzag round-trips int extremes") {
    val w = new ByteWriter()
    val vals = Array(0, 1, -1, 63, 64, -64, -65, Int.MaxValue, Int.MinValue, 12345, -98765)
    vals.foreach(w.writeZigZag)
    val r = new ByteReader(w.toBytes, 0, w.size)
    vals.foreach(v => assert(r.readZigZag() == v))
  }

  test("symtab serialization round-trips") {
    val st = new SymTab(Array(Array(1), Array(2, 3), Array(-5, 1000000, 7), Array.fill(8)(42)))
    val st2 = SymTab.fromBytes(st.toBytes)
    assert(st2.syms.map(_.toSeq).toSeq == st.syms.map(_.toSeq).toSeq)
    assert(st2.contentHash == st.contentHash)
  }

  test("symtab longest match equals a naive longest-then-lowest-code scan") {
    val rnd = new Random(11)
    for (_ <- 0 until 200) {
      // small alphabet with duplicate symbols, so prefixes and ties abound
      val syms = Array.fill(1 + rnd.nextInt(SymTab.MaxSymbols)) {
        Array.fill(1 + rnd.nextInt(SymTab.MaxSymbolLen))(rnd.nextInt(6) - 3)
      }
      val st = new SymTab(syms)
      val toks = Array.fill(40)(rnd.nextInt(7) - 3)
      for (pos <- toks.indices; end <- Seq(toks.length, math.min(toks.length, pos + 1 + rnd.nextInt(4)))) {
        var best = -1
        for (c <- syms.indices) {
          val s = syms(c)
          if (pos + s.length <= end && s.indices.forall(j => toks(pos + j) == s(j)) &&
              (best < 0 || s.length > syms(best).length)) best = c
        }
        assert(st.longestMatch(toks, pos, end) == best, s"pos $pos end $end")
      }
    }
  }

  test("trainer compresses repetitive token streams well") {
    val rows = zipfRows(7, 500, 32000)
    val stats = ChunkStats.compute(rows)
    val header = FsstTokenCodec.buildHeader(rows, stats)
    val enc = FsstTokenCodec.encoder(header)
    val out = new ByteWriter()
    rows.foreach(enc.encode(_, out))
    val fsstBytes = out.size + header.length
    // raw baseline: varint bytes + prefixes
    val rawBytes = stats.varintBytes + rows.length * 2
    assert(fsstBytes < rawBytes, s"fsst $fsstBytes !< raw $rawBytes")
  }

  test("selector picks sensible codecs per distribution (FIXTURES.md §1)") {
    def pick(rows: IndexedSeq[Array[Int]]): String =
      CodecSelector.choose(rows, ChunkStats.compute(rows)).codec.name
    val rnd = new Random(1)
    // lowcard → dict (vocab 200 uniform, values scattered so FoR can't win)
    val lowvals = Array.fill(200)(rnd.nextInt(1 << 28))
    val lowcard = (0 until 300).map(_ => Array.fill(100)(lowvals(rnd.nextInt(200))))
    assert(pick(lowcard) == "dict")
    // runs → rle
    assert(pick(runsRows(3, 300)) == "rle")
    // narrow range → for/bitpack
    val narrow = (0 until 300).map { _ =>
      val base = 500000 + rnd.nextInt(100000)
      Array.fill(100)(base + rnd.nextInt(256))
    }
    assert(Set("for", "bitpack").contains(pick(narrow)))
    // phrase-heavy zipf → fsst
    val phrasey = zipfRows(9, 300, 2000000)
    assert(pick(phrasey) == "fsst")
  }

  test("packed doc ids round-trip (ascii + unicode + empty)") {
    import graft.format.PackedIds
    val ids = Array("doc-0001", "", "ünïcödé-🚀", "a" * 300, "12345")
    val packed = PackedIds.pack(ids)
    assert(PackedIds.unpackAll(packed, ids.length).toSeq == ids.toSeq)
    checkProp(Prop.forAll(Gen.listOf(Gen.asciiPrintableStr)) { l =>
      PackedIds.unpackAll(PackedIds.pack(l.toArray), l.length).toSeq == l
    })
  }
}
