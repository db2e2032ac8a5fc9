package perfbench

import graft.format.TokenRow
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** One scan predicate of the `scan_mix` stream.
  * `cls` is the scan class reported per layer; `sel` is the selectivity
  * class: `hot` (planted hot phrases, most chunks match), `rare` (planted
  * rare phrases or narrow values, few docs match) or `absent` (copied from
  * a single doc, so almost every chunk can be skipped).
  */
final case class Pred(idx: Int, cls: String, sel: String, mode: String,
                      parts: Seq[Seq[Int]], lo: Int = 0, hi: Int = 0, set: Seq[Int] = Nil) {
  def key: String = s"scan.$idx"

  /** The same predicate on a raw token column, in the benchmark's own code:
    * the source of the expected answers.
    */
  def matches(t: Array[Int]): Boolean = cls match {
    case "range" => t.exists(x => x >= lo && x <= hi)
    case "set" => t.exists(x => setArr.contains(x))
    case _ => Pred.eval(mode, partsArr, t)
  }
  @transient private lazy val partsArr: Seq[Array[Int]] = parts.map(_.toArray)
  @transient private lazy val setArr: Set[Int] = set.toSet

  /** The engine's raw-path column predicate (for the decode baselines). */
  def column(tokens: Column): Column = {
    import graft.query.Graft._
    cls match {
      case "range" => anyTokenInRange(tokens, lo, hi)
      case "set" => anyTokenInSet(tokens, set)
      case _ => mode match {
        case "contains" => containsTokens(tokens, parts.head)
        case "prefix" => startsWithTokens(tokens, parts.head)
        case "suffix" => endsWithTokens(tokens, parts.head)
        case "multi_infix" => multiInfixTokens(tokens, parts)
      }
    }
  }

  /** The compressed-domain scan: matching doc ids (late decode: rows). */
  def scan(chunks: DataFrame): DataFrame = {
    import graft.query.Graft._
    cls match {
      case "range" => scanRange(chunks, lo, hi)
      case "set" => scanSet(chunks, set)
      case "late_decode" => scanAndDecodeDf(chunks, mode, parts).select(col("doc_id"), col("tokens"))
      case _ => scanPattern(chunks, mode, parts)
    }
  }
}

object Pred {
  val Classes: Seq[String] = Seq("contains", "prefix", "suffix", "multi_infix", "range", "set", "late_decode")

  private def indexOf(t: Array[Int], from: Int, p: Array[Int]): Int = {
    var i = from
    while (i + p.length <= t.length) {
      if (java.util.Arrays.equals(t, i, i + p.length, p, 0, p.length)) return i
      i += 1
    }
    -1
  }

  def eval(mode: String, parts: Seq[Array[Int]], t: Array[Int]): Boolean = {
    val q = parts.head
    mode match {
      case "contains" => indexOf(t, 0, q) >= 0
      case "prefix" => t.length >= q.length && java.util.Arrays.equals(t, 0, q.length, q, 0, q.length)
      case "suffix" => t.length >= q.length &&
        java.util.Arrays.equals(t, t.length - q.length, t.length, q, 0, q.length)
      case "multi_infix" =>
        var pos = 0
        parts.forall { p =>
          val i = indexOf(t, pos, p)
          if (i >= 0) pos = i + p.length
          i >= 0
        }
    }
  }

  /** 36 predicates: 9 templates x 4 variants, interleaved, drawn from the
    * seed. Variants alternate hot and rare selectivity where a template has
    * both.
    */
  def stream(p: Corpus.Plan): IndexedSeq[Pred] = {
    val r = new Corpus.Rng(p.seed * 31 + 3)
    def hot() = p.hot(r.nextInt(p.hot.length)).toSeq
    def rare() = p.rare(r.nextInt(p.rare.length)).toSeq
    // a doc of the given source drawn from the corpus itself
    def doc(source: Int): TokenRow = {
      var id = -1L
      while (id < 0 || Corpus.row(p, id).n_tok < 4) {
        id = r.nextInt((p.rows / Corpus.Sources.length).toInt) * Corpus.Sources.length.toLong + source
      }
      Corpus.row(p, id)
    }
    def slice(t: TokenRow): Seq[Int] = { val at = r.nextInt(t.n_tok - 2); t.tokens.slice(at, at + 3).toSeq }
    val narrow = 3
    for (v <- 0 until 4; t <- 0 until 9) yield {
      val idx = v * 9 + t
      val isHot = v % 2 == 0
      t match {
        case 0 => Pred(idx, "contains", "hot", "contains", Seq(hot()))
        case 1 => Pred(idx, "contains", "rare", "contains", Seq(rare()))
        case 2 => Pred(idx, "contains", "absent", "contains", Seq(slice(doc(narrow))))
        case 3 =>
          if (isHot) Pred(idx, "prefix", "hot", "prefix", Seq(hot().take(2)))
          else Pred(idx, "prefix", "absent", "prefix", Seq(doc(narrow).tokens.take(3).toSeq))
        case 4 =>
          if (isHot) Pred(idx, "suffix", "hot", "suffix", Seq(hot().takeRight(2)))
          else Pred(idx, "suffix", "absent", "suffix", Seq(doc(narrow).tokens.takeRight(3).toSeq))
        case 5 =>
          if (isHot) Pred(idx, "multi_infix", "hot", "multi_infix", Seq(hot(), hot()))
          else Pred(idx, "multi_infix", "rare", "multi_infix", Seq(hot(), rare()))
        case 6 =>
          if (isHot) Pred(idx, "range", "hot", "", Nil, 0, 30)
          else { val lo = r.nextInt(1 << 24); Pred(idx, "range", "rare", "", Nil, lo, lo + 63) }
        case 7 =>
          if (isHot) Pred(idx, "set", "hot", "", Nil, set = p.lowcard.take(2).toSeq ++ rare())
          else Pred(idx, "set", "rare", "", Nil, set = rare() ++ rare().take(1))
        case _ =>
          if (isHot) Pred(idx, "late_decode", "rare", "contains", Seq(rare()))
          else Pred(idx, "late_decode", "absent", "contains", Seq(slice(doc(narrow))))
      }
    }
  }
}
