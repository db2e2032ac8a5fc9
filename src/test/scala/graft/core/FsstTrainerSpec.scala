package graft.core

import graft.spark.SyntheticData
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The primitive FSST trainer must produce the reference trainer's table
  * byte for byte: same symbols, same code order. Seeded, about 100 cases
  * over corpus-shaped chunks, edge inputs, extreme token values, tie-heavy
  * candidate sets and slab-backed row views.
  */
class FsstTrainerSpec extends AnyFunSuite {

  private val rnd = new Random(20261017L)

  private def assertSame(rows: TokenRows, budget: Int = FsstTrainer.DefaultSampleTokens,
                         gens: Int = FsstTrainer.Generations, what: String = ""): Unit = {
    val got = FsstTrainer.train(rows, budget, gens).toBytes
    val want = ReferenceFsstTrainer.train(rows, budget, gens).toBytes
    assert(java.util.Arrays.equals(got, want), s"tables differ ($what, budget=$budget, gens=$gens)")
  }

  private def arrays(rows: Seq[Array[Int]]): TokenRows = TokenRows.ofArrays(rows.toIndexedSeq)

  /** Rows of one SyntheticData source, consecutive docs from `first`. */
  private def corpus(source: Int, first: Int, n: Int): IndexedSeq[Array[Int]] =
    (first until first + n).map(k => SyntheticData.row(k.toLong * 5 + source).tokens)

  test("rank order is pinned: gain desc, then shorter, then signed lexicographic") {
    // gen 1 gains: [7] 3×1 = 3, [-1,1] and [1,-1] 1×3 = 3, [-1] and [1] 2×1 = 2
    val rows = arrays(Seq(Array(1, -1), Array(-1, 1), Array(7), Array(7), Array(7)))
    val syms = FsstTrainer.train(rows, FsstTrainer.DefaultSampleTokens, 1).syms.map(_.toSeq).toSeq
    assert(syms == Seq(Seq(7), Seq(-1, 1), Seq(1, -1), Seq(-1), Seq(1)))
    assertSame(rows, gens = 1)
  }

  test("equals the reference on chunk-shaped groups of the five corpus shapes") {
    for (source <- 0 until 5; g <- 0 until 8) {
      val n = 20 + rnd.nextInt(400)
      assertSame(arrays(corpus(source, g * 500, n)), what = s"source $source group $g")
    }
  }

  test("equals the reference on empty, all-empty, over-budget and budget-1 samples") {
    assertSame(arrays(Seq.empty), what = "no rows")
    assertSame(arrays(Seq.fill(10)(Array.empty[Int])), what = "all rows empty")
    assert(FsstTrainer.train(arrays(Seq.fill(3)(Array.empty[Int]))).nSymbols == 0)
    val long = Array.fill(3000)(rnd.nextInt(40))
    assertSame(arrays(Seq(long, Array(1, 2, 3))), budget = 1000, what = "one row longer than the budget")
    assertSame(arrays(Seq(Array.empty[Int], long)), budget = 1, what = "budget 1 after an empty row")
    assertSame(arrays(corpus(0, 0, 50)), budget = 1, what = "budget 1")
    assertSame(arrays(corpus(0, 0, 50)), budget = 0, what = "budget 0")
    for (gens <- Seq(0, 1, 6))
      assertSame(arrays(corpus(4, 100, 80)), gens = gens, what = s"generations $gens")
  }

  test("equals the reference on negative and extreme token values") {
    val extremes =
      Array(Int.MinValue, Int.MaxValue, -1, 0, 1, Int.MinValue + 1, Int.MaxValue - 1, -64, 63, -65, 64)
    for (c <- 0 until 12) {
      val rows = Seq.fill(1 + rnd.nextInt(60)) {
        Array.fill(rnd.nextInt(50)) {
          rnd.nextInt(3) match {
            case 0 => extremes(rnd.nextInt(extremes.length))
            case 1 => -rnd.nextInt(1 << (1 + rnd.nextInt(30)))
            case _ => rnd.nextInt()
          }
        }
      }
      assertSame(arrays(rows), budget = 1 + rnd.nextInt(3000), gens = 1 + rnd.nextInt(6),
        what = s"extremes $c")
    }
  }

  test("equals the reference when more than 255 candidates tie on gain") {
    // 400 distinct pairs seen once each: all pairs gain 3, all singles gain 1,
    // so the cut at 255 falls inside one tie class; signs interleave so
    // signed and unsigned order disagree
    val pairs = Seq.tabulate(400)(i => Array(i - 200, 199 - i))
    assertSame(arrays(pairs), gens = 1, what = "400 tied pairs")
    assertSame(arrays(pairs), what = "400 tied pairs, 5 generations")
    // small alphabets of 1-byte and 2-byte escapes: many equal gains across
    // lengths and contents in every generation
    for (c <- 0 until 20) {
      val alpha = Array.fill(4 + rnd.nextInt(60))(rnd.nextInt(400) - 200)
      val rows = Seq.fill(10 + rnd.nextInt(300)) {
        Array.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length)))
      }
      assertSame(arrays(rows), budget = 200 + rnd.nextInt(4000), gens = 1 + rnd.nextInt(6), what = s"ties $c")
    }
  }

  test("equals the reference on random samples, budgets and generation counts") {
    for (c <- 0 until 30) {
      val vocab = 1 + rnd.nextInt(1 << rnd.nextInt(20))
      val rows = Seq.fill(rnd.nextInt(400)) {
        Array.fill(rnd.nextInt(1 + rnd.nextInt(200)))(rnd.nextInt(vocab) - vocab / 3)
      }
      assertSame(arrays(rows), budget = 1 + rnd.nextInt(20000), gens = rnd.nextInt(7), what = s"random $c")
    }
  }

  test("a permuted slab view trains the same table as the same rows as arrays") {
    for (c <- 0 until 10) {
      val source = c % 5
      val rows = corpus(source, 3000 + c * 300, 30 + rnd.nextInt(300))
      // the encode path: one slab in arrival order, offsets emitted in
      // (length, arrival) order
      val starts = rows.scanLeft(0)(_ + _.length).toArray
      val slab = new Array[Int](starts.last)
      rows.indices.foreach(i => System.arraycopy(rows(i), 0, slab, starts(i), rows(i).length))
      val order = rows.indices.sortBy(i => (rows(i).length, i)).toArray
      val view = TokenRows.ofSlab(slab, order.map(starts(_)), order.map(rows(_).length), order.length)
      val asArrays = arrays(order.map(rows(_)).toIndexedSeq)
      assert(java.util.Arrays.equals(FsstTrainer.train(view).toBytes, FsstTrainer.train(asArrays).toBytes),
        s"slab vs arrays differ (slab $c)")
      assertSame(view, what = s"slab $c")
    }
  }
}
