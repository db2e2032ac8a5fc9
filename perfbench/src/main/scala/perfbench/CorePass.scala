package perfbench

import graft.core._
import scala.collection.mutable

/** Single-thread pass over the `core` kernels on a seeded sample of each
  * source: stats, codec selection, FSST training, every codec's encoder and
  * decoder, and the compressed-domain matchers against the raw-token
  * matcher. Each timing is the median of `reps` passes after one warm-up
  * pass. Round trips and match agreement are checked; a mismatch is a
  * failed operation.
  */
object CorePass {
  val Codecs: Seq[ChunkCodec] = Seq(FsstTokenCodec, DictCodec, RleCodec, ForCodec, BitPackCodec)
  val Modes: Seq[String] = Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix, PatternMode.MultiInfix)
  val RowsPerSource = 512

  final case class Result(metrics: Seq[(String, Double)], checks: Int, failures: Seq[String])

  private def medianNs(reps: Int)(body: => Unit): Long = {
    body
    val ts = Array.fill(reps) { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }
    java.util.Arrays.sort(ts)
    ts(reps / 2)
  }

  def run(p: Corpus.Plan, reps: Int = 5): Result = {
    val ns = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val toks = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var escapes = 0L
    var checks = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = { checks += 1; if (!ok) failures += what }

    for (s <- Corpus.Sources.indices) {
      val rows = (0 until RowsPerSource).map(k => Corpus.row(p, k.toLong * Corpus.Sources.length + s).tokens)
      val n = rows.map(_.length.toLong).sum
      val src = Corpus.Sources(s)
      var stats: ChunkStats = null
      def add(metric: String, t: Long): Unit = { ns(metric) += t; toks(metric) += n }
      add("core.stats_ns_per_tok", medianNs(reps) { stats = ChunkStats.compute(rows) })
      add("core.select_ns_per_tok", medianNs(reps) { CodecSelector.choose(rows, stats) })
      add("core.train_ns_per_tok", medianNs(reps) { FsstTokenCodec.buildHeader(rows, stats) })

      for (c <- Codecs if c != DictCodec || stats.distinctSorted.isDefined) {
        val header = c.buildHeader(rows, stats)
        var out: ByteWriter = null
        var enc: RowEncoder = null
        add(s"core.encode_ns_per_tok.${c.name}", medianNs(reps) {
          out = new ByteWriter(1 << 16)
          enc = c.encoder(header)
          rows.foreach(r => enc.encode(r, out))
        })
        val data = out.toBytes
        bytes(c.name) += data.length + header.length
        toks(s"core.bytes_per_tok.${c.name}") += n
        if (c == FsstTokenCodec) escapes += enc.escapeCount
        val ends = rows.scanLeft(0) { (at, r) =>
          val w = new ByteWriter(64); enc.encode(r, w); at + w.size
        }
        val dec = c.decoder(header)
        var back: IndexedSeq[Array[Int]] = null
        add(s"core.decode_ns_per_tok.${c.name}", medianNs(reps) {
          back = rows.indices.map(i => dec.decode(data, ends(i), ends(i + 1)))
        })
        check(back.indices.forall(i => java.util.Arrays.equals(back(i), rows(i))),
          s"core.${c.name}: round trip differs on $src")

        if (c == FsstTokenCodec && (src == "zipf" || src == "skew")) {
          val st = SymTab.fromBytes(header)
          val hot = p.hot.take(4)
          for (mode <- Modes) {
            val parts: Array[Array[Int]] = mode match {
              case PatternMode.Prefix => Array(hot(1).take(2))
              case PatternMode.Suffix => Array(hot(2).takeRight(2))
              case PatternMode.MultiInfix => Array(hot(0), hot(3))
              case _ => Array(hot(0))
            }
            val pm = new PatternMachine(parts, st)
            var got: IndexedSeq[Boolean] = null
            add(s"core.match_ns_per_tok.$mode", medianNs(reps) {
              got = rows.indices.map(i => FsstMatch.eval(mode, pm, data, ends(i), ends(i + 1)))
            })
            var want: IndexedSeq[Boolean] = null
            add("core.raw_match_ns_per_tok", medianNs(reps) {
              want = rows.map(r => TokenMatch.eval(mode, parts, r))
            })
            check(got == want, s"core.match.$mode: compressed and raw matches differ on $src")
          }
        }
      }
    }
    val metrics = ns.map { case (k, t) => k -> t / toks(k) }.toMap ++
      bytes.map { case (c, b) => s"core.bytes_per_tok.$c" -> b.toDouble / toks(s"core.bytes_per_tok.$c") } +
      ("core.escape_rate" -> escapes.toDouble / toks("core.encode_ns_per_tok.fsst"))
    Result(metrics.toSeq.sortBy(_._1), checks, failures.toSeq)
  }
}
