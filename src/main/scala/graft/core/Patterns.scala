package graft.core

/** Pattern classes carried over from the reference's LIKE support: contains
  * `%p%`, prefix `p%`, suffix `%p`, equality, and ordered multi-infix
  * `%p1%p2%…%` (the factory gates at /root/reference/src/algos/Comet.hpp:100-133
  * and pattern splitting at /root/reference/src/Utility.hpp:37-50), with the
  * byte alphabet generalized to tokens (SURVEY.md §2.2).
  */
object PatternMode {
  val Contains = "contains"
  val Prefix = "prefix"
  val Suffix = "suffix"
  val Equals = "equals"
  val MultiInfix = "multi_infix"
  val all: Set[String] = Set(Contains, Prefix, Suffix, Equals, MultiInfix)

  /** Normalize: multi-infix drops empty parts (as SplitPattern does,
    * /root/reference/src/Utility.hpp:37-50); single-part modes keep an empty
    * pattern as-is (contains/prefix/suffix of [] matches everything; equals
    * [] matches only empty rows — the LIKE '%%' / '' semantics).
    */
  def normalize(mode: String, parts: Array[Array[Int]]): Array[Array[Int]] = {
    require(all.contains(mode), s"unknown pattern mode $mode")
    if (mode == MultiInfix) parts.filter(_.nonEmpty)
    else {
      require(parts.length == 1, s"$mode takes exactly one pattern part")
      parts
    }
  }
}

/** Token-domain reference matchers — the trusted oracle side of the dual-run
  * check (mirror of computeOracle, /root/reference/sketch.cc:1124-1143, and
  * of GeneralStdFindEngine::Matches for multi-infix,
  * /root/reference/src/algos/StdFind.hpp:61-72).
  */
object TokenMatch {

  def indexOfSlice(toks: Array[Int], from: Int, p: Array[Int]): Int = {
    if (p.length == 0) return from
    val n = toks.length
    var i = from
    while (i + p.length <= n) {
      var j = 0
      while (j < p.length && toks(i + j) == p(j)) j += 1
      if (j == p.length) return i
      i += 1
    }
    -1
  }

  def contains(toks: Array[Int], p: Array[Int]): Boolean = indexOfSlice(toks, 0, p) >= 0

  def prefix(toks: Array[Int], p: Array[Int]): Boolean = {
    if (p.length > toks.length) return false
    var j = 0
    while (j < p.length && toks(j) == p(j)) j += 1
    j == p.length
  }

  def suffix(toks: Array[Int], p: Array[Int]): Boolean = {
    if (p.length > toks.length) return false
    val off = toks.length - p.length
    var j = 0
    while (j < p.length && toks(off + j) == p(j)) j += 1
    j == p.length
  }

  def equalsPat(toks: Array[Int], p: Array[Int]): Boolean =
    toks.length == p.length && prefix(toks, p)

  /** Ordered, non-overlapping, greedy-first-match — existence-exact. */
  def multiInfix(toks: Array[Int], parts: Array[Array[Int]]): Boolean = {
    var pos = 0
    var k = 0
    while (k < parts.length) {
      val idx = indexOfSlice(toks, pos, parts(k))
      if (idx < 0) return false
      pos = idx + parts(k).length
      k += 1
    }
    true
  }

  def eval(mode: String, parts: Array[Array[Int]], toks: Array[Int]): Boolean = mode match {
    case PatternMode.Contains   => contains(toks, parts(0))
    case PatternMode.Prefix     => prefix(toks, parts(0))
    case PatternMode.Suffix     => suffix(toks, parts(0))
    case PatternMode.Equals     => equalsPat(toks, parts(0))
    case PatternMode.MultiInfix => multiInfix(toks, parts)
  }
}

/** Pattern evaluation directly on FSST-compressed row bytes — never
  * materializes the decoded row; early-exits on accept (the reference's whole
  * point: SURVEY.md §4 O2/O5). Row layout: varUInt(nTokens) + code stream.
  */
object FsstMatch {

  /** Inline LEB128 read: returns the value in the low bits and the new
    * cursor in the high bits of a packed Long (one return, no allocation).
    */
  @inline private def varUIntAt(bytes: Array[Byte], pos0: Int): Long = {
    var p = pos0
    var shift = 0; var result = 0; var b = 0
    do {
      b = bytes(p) & 0xff; p += 1
      result |= (b & 0x7f) << shift; shift += 7
    } while ((b & 0x80) != 0)
    (p.toLong << 32) | (result.toLong & 0xffffffffL)
  }

  /** `%p%` via lookup-KMP (F4), with the zero-state byte-skip run
    * (CodeDfa.hot0): while the automaton is in state 0 — the overwhelmingly
    * common state for a selective pattern — consume boring bytes with a
    * single boolean load each instead of two DFA table lookups. Local int
    * cursor over the raw array (no ByteReader field traffic) keeps the loop
    * register-allocated.
    */
  def contains(bytes: Array[Byte], from: Int, to: Int, pm: PatternMachine): Boolean = {
    val dfa = pm.dfas(0)
    val m = dfa.m
    if (m == 0) return true
    val cd = pm.codeDfas(0)
    val hot = cd.hot0
    val hdr = varUIntAt(bytes, from)
    if (hdr.toInt < m) return false
    var p = (hdr >>> 32).toInt
    var state = 0
    while (p < to) {
      if (state == 0) {
        while (p < to && !hot(bytes(p) & 0xff)) p += 1
        if (p >= to) return false
      }
      val b = bytes(p) & 0xff; p += 1
      if (b == SymTab.EscapeCode) {
        val zz = varUIntAt(bytes, p)
        p = (zz >>> 32).toInt
        val u = zz.toInt
        state = dfa.step(state, (u >>> 1) ^ -(u & 1))
        if (state == m) return true
      } else {
        if (cd.acceptPos(state, b) >= 0) return true
        state = cd.next(state, b)
      }
    }
    false
  }

  /** `%p` — positional compare against the row's LAST m tokens (the
    * anchored idea of F3 applied at the row end): the row header's token
    * count n fixes the match window [n-m, n) up front, so no automaton is
    * needed at all. The skip phase counts tokens per code byte — one
    * length-table load, escapes skipped without zigzag decode — and the
    * compare phase exits on the FIRST mismatching token. The previous
    * formulation ran the contains DFA to end-of-row by construction
    * (without the count, a suffix match is only decidable at the end);
    * this one exits as soon as the tail window provably mismatches, and
    * does strictly less work per byte before it.
    */
  def suffix(bytes: Array[Byte], from: Int, to: Int, pm: PatternMachine): Boolean = {
    val st = pm.st
    val p = pm.parts(0)
    val m = p.length
    if (m == 0) return true
    val hdr = varUIntAt(bytes, from)
    val n = hdr.toInt
    if (n < m) return false
    val start = n - m // token index where the window begins
    val lens = st.lens
    var pos = (hdr >>> 32).toInt
    var c = 0 // tokens consumed so far
    while (pos < to) {
      var b = bytes(pos) & 0xff
      val len = if (b == SymTab.EscapeCode) 1 else lens(b)
      if (c + len > start) {
        // window starts inside this symbol: positional compare from here
        var j = 0            // index into p
        var skip = start - c // window offset within the first symbol (< len)
        while (true) {
          pos += 1
          if (b == SymTab.EscapeCode) {
            val zz = varUIntAt(bytes, pos)
            pos = (zz >>> 32).toInt
            val u = zz.toInt
            if (((u >>> 1) ^ -(u & 1)) != p(j)) return false
            j += 1
          } else {
            val sym = st.symbol(b)
            var t = skip
            while (t < sym.length) {
              if (j >= m) return false // symbols overrun the header's n
              if (sym(t) != p(j)) return false
              t += 1; j += 1
            }
          }
          skip = 0
          if (j == m) return pos >= to // window filled exactly at row end
          if (pos >= to) return false  // row ended before the window filled
          b = bytes(pos) & 0xff
        }
        return false // unreachable
      }
      c += len
      pos += 1
      if (b == SymTab.EscapeCode) {
        // skip the escape varint without decoding it
        while ((bytes(pos) & 0x80) != 0) pos += 1
        pos += 1
      }
    }
    false // row ended before reaching the window (header n overstated)
  }

  /** `p%` — anchored positional compare, early exit on first mismatch (F3). */
  def prefix(bytes: Array[Byte], from: Int, to: Int, st: SymTab, p: Array[Int]): Boolean = {
    val m = p.length
    if (m == 0) return true
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    if (n < m) return false
    var pos = 0
    while (pos < m && r.pos < to) {
      val b = r.readByte()
      if (b == SymTab.EscapeCode) {
        if (r.readZigZag() != p(pos)) return false
        pos += 1
      } else {
        val sym = st.symbol(b)
        var j = 0
        val lim = math.min(sym.length, m - pos)
        while (j < lim && sym(j) == p(pos + j)) j += 1
        if (j < lim) return false
        pos += sym.length
      }
    }
    pos >= m
  }

  def equalsPat(bytes: Array[Byte], from: Int, to: Int, st: SymTab, p: Array[Int]): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    n == p.length && prefix(bytes, from, to, st, p)
  }

  /** `%p1%p2%…%` — machine chain; when machine k accepts mid-symbol at
    * stop_pos, machine k+1 resumes from the remaining tokens of that same
    * symbol (the reference's MetaStateMachine resume semantics,
    * /root/reference/src/MetaStateMachine.hpp:107-112).
    */
  def multiInfix(bytes: Array[Byte], from: Int, to: Int, pm: PatternMachine): Boolean = {
    val K = pm.dfas.length
    if (K == 0) return true
    val st = pm.st
    val r = new ByteReader(bytes, from, to)
    r.readVarUInt()
    var k = 0
    var state = 0
    while (r.pos < to) {
      if (state == 0) {
        // zero-state skip against the CURRENT machine's hot set
        val hot = pm.codeDfas(k).hot0
        var p = r.pos
        while (p < to && !hot(bytes(p) & 0xff)) p += 1
        r.pos = p
        if (p >= to) return false
      }
      val b = r.readByte()
      if (b == SymTab.EscapeCode) {
        val tok = r.readZigZag()
        state = pm.dfas(k).step(state, tok)
        if (state == pm.dfas(k).m) {
          k += 1; state = 0
          if (k == K) return true
        }
      } else {
        val ap = pm.codeDfas(k).acceptPos(state, b)
        if (ap < 0) {
          state = pm.codeDfas(k).next(state, b)
        } else {
          // accept inside this symbol: advance machine, resume at stop_pos
          k += 1; state = 0
          if (k == K) return true
          val sym = st.symbol(b)
          var off = ap
          while (off < sym.length) {
            state = pm.dfas(k).step(state, sym(off))
            off += 1
            if (state == pm.dfas(k).m) {
              k += 1; state = 0
              if (k == K) return true
            }
          }
        }
      }
    }
    false
  }

  def eval(mode: String, pm: PatternMachine, bytes: Array[Byte], from: Int, to: Int): Boolean =
    mode match {
      case PatternMode.Contains   => contains(bytes, from, to, pm)
      case PatternMode.Prefix     => prefix(bytes, from, to, pm.st, pm.parts(0))
      case PatternMode.Suffix     => suffix(bytes, from, to, pm)
      case PatternMode.Equals     => equalsPat(bytes, from, to, pm.st, pm.parts(0))
      case PatternMode.MultiInfix => multiInfix(bytes, from, to, pm)
    }
}

/** The pattern operator's one codec dispatch: each codec's rows match in its
  * own compressed domain — FSST through the code DFA, every positional
  * codec's equals through its canonical encoding, dict in the index domain,
  * RLE per run, FoR/bitpack on the packed stream — and only raw rows (non-
  * equals modes) decode first.
  */
object PatternMatch {

  /** Token-bloom chunk gate: a chunk can match only if every pattern token
    * may be present (blooms have no false negatives). */
  def chunkMayMatch(bloom: Array[Byte], parts: Array[Array[Int]]): Boolean =
    parts.forall(_.forall(ChunkStats.bloomHas(bloom, _)))

  /** The pattern test for the rows of one chunk, codec chosen and header
    * parsed once. `parts` must be normalized ([[PatternMode.normalize]]).
    * `escapedBloom` is the chunk's escaped-token bloom, or null when the
    * caller sees only the header (the per-row expressions), which skips the
    * FSST spelling gate. Returns [[RowPredicate.Never]] only when the header
    * or the escaped bloom proves that no row can match — exact, not
    * probabilistic: a pattern token absent from a dict chunk's dictionary,
    * an equals pattern the chunk's codec cannot encode, or a pattern no FSST
    * code sequence can spell ([[PatternMachine.requiredCodeTable]] Left).
    */
  def prepare(codec: String, header: Array[Byte], mode: String,
              parts: Array[Array[Int]], escapedBloom: Array[Byte]): RowPredicate =
    if (codec == FsstTokenCodec.name) {
      val pm = PatternMachine.forTable(EvalCaches.symtab(header), parts)
      if (escapedBloom != null && pm.requiredCodeTable(escapedBloom).isLeft) RowPredicate.Never
      else (d, f, t) => FsstMatch.eval(mode, pm, d, f, t)
    } else if (mode == PatternMode.Equals) {
      PackedEquals.patternImage(codec, header, parts(0)) match {
        case None => RowPredicate.Never
        case Some(img) => (d, f, t) => PackedEquals.rowEquals(d, f, t, img)
      }
    } else if (codec == DictCodec.name) {
      DictMatch.translate(EvalCaches.dict(header), parts) match {
        case None => RowPredicate.Never
        case Some(idxParts) => PackedAnchor.prepareDict(header, mode, idxParts)
      }
    } else if (codec == RleCodec.name) {
      val runs = parts.map(RleMatch.patternRuns)
      val (pvs, pcs, lens) = (runs.map(_._1), runs.map(_._2), parts.map(_.length))
      (d, f, t) => RleMatch.eval(mode, d, f, t, pvs, pcs, lens)
    } else if (PackedAnchor.supports(codec, mode)) {
      PackedAnchor.prepare(codec, header, mode, parts)
    } else {
      val dec = Codecs.byName(codec).decoder(header)
      (d, f, t) => TokenMatch.eval(mode, parts, dec.decode(d, f, t))
    }
}
