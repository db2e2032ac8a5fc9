package graft.core

import scala.collection.mutable

/** Reference FSST trainer: the straightforward object-per-candidate form of
  * the algorithm `FsstTrainer` implements (one `Key` per unit and suffix
  * extension, counted in a `java.util.HashMap`, top 255 through a
  * `PriorityQueue`). It is slow and kept only as the oracle the primitive
  * kernel must reproduce byte for byte (FsstTrainerSpec).
  *
  * Rank order: gain descending, then shorter first, then signed
  * lexicographic tokens.
  */
object ReferenceFsstTrainer {

  private final class Counter { var n: Long = 1L }

  private final class Key(val a: Array[Int], val from: Int, val len: Int) {
    override val hashCode: Int = {
      var h = 1
      var i = from
      val end = from + len
      while (i < end) { h = 31 * h + a(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case k: Key =>
        if (k.len != len || k.hashCode != hashCode) false
        else {
          var i = 0
          var eq = true
          while (eq && i < len) { eq = a(from + i) == k.a(k.from + i); i += 1 }
          eq
        }
      case _ => false
    }
    def materialize: Array[Int] = java.util.Arrays.copyOfRange(a, from, from + len)
  }

  private def literalCost(a: Array[Int], from: Int, len: Int): Int = {
    var c = 0
    var i = from
    while (i < from + len) { c += Varint.escapeCost(a(i)); i += 1 }
    c
  }

  def train(rows: TokenRows, maxSampleTokens: Int = FsstTrainer.DefaultSampleTokens,
            generations: Int = FsstTrainer.Generations): SymTab = {
    val sBufs = mutable.ArrayBuffer.empty[Array[Int]]
    val sFrom = new mutable.ArrayBuffer[Int]
    val sLen = new mutable.ArrayBuffer[Int]
    var budget = maxSampleTokens
    var ri = 0
    while (ri < rows.rowCount && budget > 0) {
      val n = rows.len(ri)
      if (n > 0) {
        sBufs += rows.buf(ri); sFrom += rows.start(ri); sLen += n
        budget -= n
      }
      ri += 1
    }
    if (sBufs.isEmpty) return SymTab.empty

    var table = SymTab.empty
    var gen = 0
    while (gen < generations) {
      val counts = new java.util.HashMap[Key, Counter]()
      def bump(k: Key): Unit = {
        val c = counts.get(k)
        if (c != null) c.n += 1 else counts.put(k, new Counter)
      }

      var s = 0
      while (s < sBufs.length) {
        val toks = sBufs(s)
        val rowFrom = sFrom(s)
        val end = rowFrom + sLen(s)
        var pos = rowFrom
        var prevFrom = -1
        var prevLen = 0
        while (pos < end) {
          val code = table.longestMatch(toks, pos, end)
          val uLen = if (code >= 0) table.symLen(code) else 1
          bump(new Key(toks, pos, uLen))
          if (prevFrom >= 0 && prevLen + uLen <= SymTab.MaxSymbolLen) {
            bump(new Key(toks, prevFrom, prevLen + uLen))
          }
          prevFrom = pos
          prevLen = uLen
          pos += uLen
        }
        s += 1
      }

      val cmp = new java.util.Comparator[(Long, Key)] {
        def compare(x: (Long, Key), y: (Long, Key)): Int = {
          if (x._1 != y._1) java.lang.Long.compare(y._1, x._1)
          else if (x._2.len != y._2.len) Integer.compare(x._2.len, y._2.len)
          else {
            var i = 0
            var c = 0
            while (c == 0 && i < x._2.len) {
              c = Integer.compare(x._2.a(x._2.from + i), y._2.a(y._2.from + i))
              i += 1
            }
            c
          }
        }
      }
      val heap = new java.util.PriorityQueue[(Long, Key)](SymTab.MaxSymbols + 1, cmp.reversed())
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        val gain = e.getValue.n * (literalCost(k.a, k.from, k.len) - 1).toLong
        if (gain > 0) {
          if (heap.size < SymTab.MaxSymbols) heap.add((gain, k))
          else if (cmp.compare((gain, k), heap.peek()) < 0) {
            heap.poll()
            heap.add((gain, k))
          }
        }
      }
      val scored = heap.toArray(new Array[(Long, Key)](heap.size))
      java.util.Arrays.sort(scored, cmp)

      val syms = new Array[Array[Int]](scored.length)
      var i = 0
      while (i < scored.length) { syms(i) = scored(i)._2.materialize; i += 1 }
      table = new SymTab(syms)
      gen += 1
    }
    table
  }
}
