package graft.core

/** KMP automaton over the token alphabet — the reference's StateMachine
  * (/root/reference/src/StateMachine.hpp:307-332 builds pi; :70-80 steps)
  * re-derived for int32 tokens. States 0..m; m is the accepting state and the
  * automaton keeps running past accepts (needed for suffix matching).
  */
final class TokenDfa(val pattern: Array[Int]) extends Serializable {
  val m: Int = pattern.length

  /** pi(i) = length of the longest proper border of pattern[0..i]. */
  val pi: Array[Int] = {
    val p = new Array[Int](math.max(m, 1))
    var k = 0
    var i = 1
    while (i < m) {
      while (k > 0 && pattern(i) != pattern(k)) k = p(k - 1)
      if (pattern(i) == pattern(k)) k += 1
      p(i) = k
      i += 1
    }
    p
  }

  /** ZeroKMP property (/root/reference/src/StateMachine.hpp:23-30): when the
    * failure function is trivial (all pi = 0 — the common case for token
    * patterns, which rarely self-overlap), a mismatch restarts at 0/1 with no
    * fallback loop.
    */
  val isZero: Boolean = {
    var z = true
    var i = 1
    while (z && i < m) { z = pi(i) == 0; i += 1 }
    z
  }

  def step(state: Int, tok: Int): Int = {
    if (m == 0) return 0
    if (isZero) {
      val s = if (state == m) 0 else state
      if (pattern(s) == tok) s + 1
      else if (s != 0 && pattern(0) == tok) 1
      else 0
    } else {
      var s = if (state == m) pi(m - 1) else state
      while (s > 0 && pattern(s) != tok) s = pi(s - 1)
      if (pattern(s) == tok) s + 1 else 0
    }
  }
}

/** Per-(pattern, symbol-table) lookup table: one transition consumes a whole
  * FSST symbol — the reference's "lookup-KMP" (state,code)→(state′,stop_pos)
  * precompute (/root/reference/src/StateMachine.hpp:41-60, used by
  * /root/reference/src/algos/Comet.hpp:63-78). stop_pos (token count consumed
  * at the earliest accept inside the symbol) drives multi-infix resume
  * (/root/reference/src/MetaStateMachine.hpp:107-112).
  */
final class CodeDfa(val dfa: TokenDfa, st: SymTab) {
  private val m = dfa.m
  private val nSym = st.nSymbols
  private val nextTab = new Array[Int]((m + 1) * math.max(nSym, 1))
  private val accTab = new Array[Int]((m + 1) * math.max(nSym, 1))

  {
    var s = 0
    while (s <= m) {
      var c = 0
      while (c < nSym) {
        val sym = st.symbol(c)
        var cur = s
        var acc = -1
        var j = 0
        while (j < sym.length) {
          cur = dfa.step(cur, sym(j))
          j += 1
          if (cur == m && acc < 0) acc = j
        }
        nextTab(s * nSym + c) = cur
        accTab(s * nSym + c) = acc
        c += 1
      }
      s += 1
    }
  }

  @inline def next(state: Int, code: Int): Int = nextTab(state * nSym + code)
  /** Tokens consumed within the symbol at the earliest accept; -1 = no accept. */
  @inline def acceptPos(state: Int, code: Int): Int = accTab(state * nSym + code)

  /** Zero-state skip set (the reference's branchless-ZeroKMP idea,
    * /root/reference/src/StateMachine.hpp:98-107, recast as a byte-skip
    * run): hot0(b) is false iff byte b can be SKIPPED while the automaton
    * sits in state 0 — its symbol neither moves the state off 0 nor
    * accepts. The escape marker is always hot (its zigzag payload must be
    * parsed, never skip-scanned), and so is every byte ≥ nSym (malformed —
    * let the stepping loop fail loudly rather than skip silently). For a
    * selective pattern almost every code is skippable, so the state-0 inner
    * loop degenerates to a single boolean load per byte at memory speed.
    */
  val hot0: Array[Boolean] = {
    val h = new Array[Boolean](256)
    java.util.Arrays.fill(h, true)
    var c = 0
    while (c < nSym) {
      h(c) = nextTab(c) != 0 || accTab(c) >= 0
      c += 1
    }
    h(SymTab.EscapeCode) = true
    h
  }
}

/** Machine chain for one pattern against one symbol table; cached per
  * (pattern, symtab.contentHash) since consecutive chunks in a partition share
  * tables (SURVEY.md §4 O3).
  */
final class PatternMachine(val parts: Array[Array[Int]], val st: SymTab) {
  val dfas: Array[TokenDfa] = parts.map(new TokenDfa(_))
  val codeDfas: Array[CodeDfa] = dfas.map(new CodeDfa(_, st))

  /** token → codes whose symbol expansion contains it (for the
    * required-symbol skipping scan, SURVEY.md §2.1 F6).
    */
  @transient private lazy val codesByToken: scala.collection.mutable.LongMap[Array[Int]] = {
    val m = scala.collection.mutable.LongMap.empty[scala.collection.mutable.ArrayBuffer[Int]]
    var c = 0
    while (c < st.nSymbols) {
      st.symbol(c).distinct.foreach { t =>
        m.getOrElseUpdate(t.toLong, scala.collection.mutable.ArrayBuffer.empty[Int]) += c
      }
      c += 1
    }
    val out = scala.collection.mutable.LongMap.empty[Array[Int]]
    m.foreach { case (k, v) => out(k) = v.toArray }
    out
  }

  def codesContaining(t: Int): Array[Int] =
    codesByToken.getOrElse(t.toLong, Array.emptyIntArray)

  /** All ways one pattern part can be spelled by this chunk's code stream,
    * as CODE SETS: the first segment may start mid-symbol (suffix of a
    * symbol), interior symbols must match exactly, the last segment may be a
    * symbol prefix, and a token may travel as an escape only when the
    * chunk's escaped-token bloom admits it (bloom false positives only ADD
    * paths — conservative). Mirrors the reference's path enumeration
    * (/root/reference/src/algos/Skipping.hpp:274-346) over the token
    * alphabet. Returns None when enumeration blows the budget; Some(empty)
    * means the part is UNSPELLABLE in this chunk — no row can match.
    */
  private def spellingPaths(part: Array[Int], escOk: Int => Boolean): Option[Set[Set[Int]]] = {
    val m = part.length
    val limit = 4096
    val paths = scala.collection.mutable.Set.empty[Set[Int]]
    var steps = 0
    def rec(i: Int, acc: Set[Int]): Boolean = {
      steps += 1
      if (steps > 65536 || paths.size > limit) return false
      if (i >= m) { paths += acc; return true }
      if (escOk(part(i)) && !rec(i + 1, acc + SymTab.EscapeCode)) return false
      var c = 0
      while (c < st.nSymbols) {
        val sym = st.symbol(c)
        if (i == 0) {
          var o = 0
          while (o < sym.length) {
            val k = math.min(sym.length - o, m)
            var j = 0
            while (j < k && sym(o + j) == part(j)) j += 1
            if (j == k && !rec(k, acc + c)) return false
            o += 1
          }
        } else {
          val k = math.min(sym.length, m - i)
          var j = 0
          while (j < k && sym(j) == part(i + j)) j += 1
          if (j == k && !rec(i + k, acc + c)) return false
        }
        c += 1
      }
      true
    }
    if (m == 0) return Some(Set(Set.empty))
    if (!rec(0, Set.empty)) None else Some(paths.toSet)
  }

  /** Greedy hitting set: codes such that EVERY spelling path uses ≥1. */
  private def hittingSet(paths: Set[Set[Int]]): Array[Int] = {
    val remaining = scala.collection.mutable.Set.empty[Set[Int]] ++= paths
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (remaining.nonEmpty) {
      val counts = scala.collection.mutable.Map.empty[Int, Int]
      remaining.foreach(_.foreach(c => counts(c) = counts.getOrElse(c, 0) + 1))
      val best = counts.maxBy(_._2)._1
      out += best
      remaining.filterInPlace(p => !p.contains(best))
    }
    out.toArray
  }

  /** Byte table over codes that any match MUST touch, or null when no
    * worthwhile gate exists. Left(()) = the chunk provably cannot match.
    *
    * The gate is the SMALLEST hitting set found across (a) each pattern
    * part's spelling-path cover (the reference's greedy set cover,
    * /root/reference/src/algos/Skipping.hpp:348-449) and (b) the round-1
    * single-rarest-token code set — so it is never weaker than (b). For
    * multi-part patterns any single part's cover is sound (every part must
    * match).
    */
  def requiredCodeTable(escapedBloom: Array[Byte]): Either[Unit, Array[Boolean]] = {
    val escOk = (t: Int) => ChunkStats.bloomHas(escapedBloom, t)
    var best: Array[Int] = null
    // (a) spelling-path covers, per part
    var k = 0
    while (k < parts.length) {
      val part = parts(k)
      if (part.nonEmpty) {
        spellingPaths(part, escOk) match {
          case Some(ps) if ps.isEmpty => return Left(()) // unspellable part
          case Some(ps) =>
            val cover = hittingSet(ps)
            if (best == null || cover.length < best.length) best = cover
          case None => // enumeration blown: fall through to the token gate
        }
      }
      k += 1
    }
    // (b) single-token gate (never-weaker floor; also handles the blown case)
    k = 0
    while (k < parts.length) {
      val part = parts(k)
      var i = 0
      while (i < part.length) {
        val t = part(i)
        if (!escOk(t)) {
          val codes = codesContaining(t)
          if (codes.isEmpty) return Left(()) // token unreachable → no match possible
          if (best == null || codes.length < best.length) best = codes
        }
        i += 1
      }
      k += 1
    }
    if (best == null || best.length > 64) Right(null)
    else {
      val table = new Array[Boolean](256)
      best.foreach(c => table(c) = true)
      Right(table)
    }
  }
}

object PatternMachine {
  private val cache = new ThreadLocal[java.util.LinkedHashMap[(Long, Int), PatternMachine]] {
    override def initialValue() =
      new java.util.LinkedHashMap[(Long, Int), PatternMachine](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[(Long, Int), PatternMachine]) = size > 32
      }
  }
  private def sameParts(a: Array[Array[Int]], b: Array[Array[Int]]): Boolean =
    a.length == b.length && {
      var i = 0
      var eq = true
      while (eq && i < a.length) { eq = java.util.Arrays.equals(a(i), b(i)); i += 1 }
      eq
    }
  private def sameTable(a: SymTab, b: SymTab): Boolean =
    (a eq b) || (a.nSymbols == b.nSymbols && {
      var c = 0
      var eq = true
      while (eq && c < a.nSymbols) { eq = java.util.Arrays.equals(a.symbol(c), b.symbol(c)); c += 1 }
      eq
    })

  /** Cached per (symtab contentHash, pattern hash) with a CONTENT check on
    * hit — a hash collision must never hand back a machine built for a
    * different pattern or table (silent wrong matches).
    */
  def forTable(st: SymTab, parts: Array[Array[Int]]): PatternMachine = {
    val key = (st.contentHash, java.util.Arrays.deepHashCode(parts.asInstanceOf[Array[AnyRef]]))
    val c = cache.get()
    var pm = c.get(key)
    if (pm == null || !sameParts(pm.parts, parts) || !sameTable(pm.st, st)) {
      pm = new PatternMachine(parts, st)
      c.put(key, pm)
    }
    pm
  }
}
