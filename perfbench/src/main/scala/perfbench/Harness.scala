package perfbench

import graft.encode.EncodeJob
import graft.format.{EncodedChunk, PackedIds, TokenRow}
import graft.pipeline.{Dedup, Packing, PipelineFunctions}
import graft.query.Graft
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

final case class OpRecord(name: String, request: Long, seconds: Double, ok: Boolean)
final case class Failure(name: String, request: Long, secondsToFailure: Double, message: String)
final case class TableStats(codecChunks: Map[String, Long], bytesPerToken: Double,
                            chunkTokP50: Long, chunkTokMax: Long, chunks: Long)

/** Every operation the workloads run, each a verified call into one layer
  * through the engine's public entry points.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer, val plan: Corpus.Plan,
                    rawPath: String, work: Path, val exp: Expected) {
  import spark.implicits._
  import Harness._

  val records = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[Failure]
  lazy val preds: IndexedSeq[Pred] = Pred.stream(plan)
  private val tablePath = work.resolve("table").toString
  private val ingestPath = work.resolve("ingest").toString
  private val referencePath = work.resolve("reference").toString

  def raw: DataFrame = spark.read.parquet(rawPath)
  def rawRows: Dataset[TokenRow] = raw.as[TokenRow]
  /** The encoded chunk table the workload reads, written during set-up and
    * opened once, as a user holding the table would.
    */
  var chunks: DataFrame = _

  // ---- verified steps ---------------------------------------------------

  /** Runs one call in a span, compares its digest with the expected one and
    * records the outcome; exceptions and wrong answers are failures.
    */
  def step(name: String, layer: String, want: => Digest)(run: => Digest): Boolean = {
    val t0 = System.nanoTime()
    val outcome = attempt(tracer.span(name, layer)(run))
    val sec = (System.nanoTime() - t0) / 1e9
    val problem = outcome match {
      case Left(e) => Some(message(e))
      case Right(got) => attempt(want) match {
        case Right(w) => if (got == w) None else Some(s"wrong answer: got $got, want $w")
        case Left(e) => Some(s"no expected answer: ${message(e)}")
      }
    }
    problem.foreach(m => failures += Failure(name, tracer.currentOp, sec, m))
    records += OpRecord(name, tracer.currentOp, sec, problem.isEmpty)
    problem.isEmpty
  }

  /** Computes a group of expected answers; a failure (the decoded-domain
    * path can fail the same way the engine does) is recorded, and the checks
    * that needed the group then fail too.
    */
  def expect(group: String)(compute: => Unit): Unit = {
    val t0 = System.nanoTime()
    attempt(compute).left.foreach { e =>
      failures += Failure(s"expected.$group", -1, (System.nanoTime() - t0) / 1e9, message(e))
      records += OpRecord(s"expected.$group", -1, (System.nanoTime() - t0) / 1e9, ok = false)
    }
  }

  def encodeTable(): Unit = {
    EncodeJob.encode(rawRows).write.mode("overwrite").parquet(tablePath)
    chunks = spark.read.parquet(tablePath)
  }

  private def totals(df: DataFrame): Digest = {
    val r = df.agg(sum(col("row_count")).cast("long"), sum(col("n_tokens")).cast("long")).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  // ---- requests: one closed-loop unit of each workload ------------------

  def request(kind: String, i: Long): Boolean = kind match {
    case "ingest" => ingest()
    case "scan_mix" => scan(preds((i % preds.size).toInt))
    case "prep_stats" => prepLap()
    case "near_dup" => nearDupLap()
  }

  /** Runs the plain-Spark reference for request `i` right after it and
    * returns its time: the same data and no engine code, so the request's
    * time over this one cancels the host's speed at that moment. A scan's
    * reference is the same predicate as a filter with the harness's own
    * matcher over the raw token table, checked like every scan; an ingest's
    * is writing the raw rows to parquet and reading them back, checked like
    * the round trip. A lap's is the harness's own MinHash banding (64 hashes
    * of 3-shingles, 16 bands of 4) over the raw table and a band self-join
    * counting candidate pairs: a yardstick, not a result, so unchecked.
    */
  def reference(kind: String, i: Long): Option[Double] = {
    val t0 = System.nanoTime()
    val ok = kind match {
      case "scan_mix" =>
        val p = preds((i % preds.size).toInt)
        step("bench.reference", "bench", exp(p.key)) {
          val hits = rawRows.filter(r => p.matches(r.tokens))
          Digest.of(if (p.cls == "late_decode") hits.select(col("doc_id"), col("tokens")) else hits.select(col("doc_id")))
        }
      case "ingest" =>
        step("bench.reference", "bench", exp("roundtrip")) {
          rawRows.write.mode("overwrite").parquet(referencePath)
          Digest.of(spark.read.parquet(referencePath).select(col("doc_id"), col("tokens")))
        }
      case _ =>
        val banded = rawRows.filter(_.n_tok >= 3).map(r => (r.doc_id, bands(r.tokens))).toDF("doc_id", "bands")
          .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
        val (a, b) = (banded.alias("a"), banded.alias("b"))
        attempt(a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id")).select(col("a.doc_id"), col("b.doc_id")).distinct().count()).isRight
    }
    if (ok) Some((System.nanoTime() - t0) / 1e9) else None
  }

  /** Bulk encode + parquet write, then decode everything back. */
  def ingest(): Boolean = tracer.span("ingest", "bench") {
    val wrote = step("encode.encode_write", "encode", exp("totals")) {
      EncodeJob.encode(rawRows).write.mode("overwrite").parquet(ingestPath)
      totals(spark.read.parquet(ingestPath))
    }
    wrote && step("encode.decode", "encode", exp("roundtrip")) {
      Digest.of(EncodeJob.decodeDf(spark.read.parquet(ingestPath)).select(col("doc_id"), col("tokens")))
    }
  }

  /** (sum of n, sum of weight * n) over a histogram. */
  private def weighted(hist: DataFrame, weight: String): Digest = {
    val r = hist.agg(sum(col("n")).cast("long"), sum(expr(weight) * col("n")).cast("long")).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def scan(p: Pred): Boolean =
    step(s"query.scan.${p.cls}", "query", exp(p.key))(Digest.of(p.scan(chunks)))

  def prepLap(): Boolean = tracer.span("prep_lap", "bench") {
    val c = chunks
    Seq(
      step("query.hist", "query", exp("hist"))(weighted(Graft.tokenHistogram(c), TokWeight)),
      step("query.bigram", "query", exp("bigram"))(weighted(Graft.bigramHistogram(c), PairWeight)),
      step("query.quality", "query", exp("quality"))(Digest.of(
        Graft.qualityEncoded(c).select(QualityCols.map(col): _*))),
      step("query.exact_dedup", "query", exp("exact"))(Digest.of(
        Graft.dedupExactEncoded(c).select(col("rep_doc_id").cast("long"), col("n_dups").cast("long")))),
      step("pipeline.pack", "pipeline", exp("pack"))(Digest.of(
        Packing.packSummary(Graft.rowMeta(c).withColumn("doc_id", col("doc_id").cast("long")), SeqLen)
          .select(PackCols.map(col): _*)))
    ).forall(identity)
  }

  /** Confirmed pairs of the last lap (traced runs report them). */
  var confirmedPairs = 0L

  def nearDupLap(): Boolean = tracer.span("near_dup_lap", "bench") {
    val c = chunks
    val sig = step("query.minhash_sig", "query", exp("sig"))(Digest.of(
      Graft.minhashRowsEncoded(c, 3, 64, MinHashSeed, collectGrams = false).select(col("doc_id"), col("sig"))))
    var pairs: DataFrame = null
    val lsh = step("pipeline.lsh_pairs", "pipeline", exp("pairs")) {
      pairs = Graft.dedupMinhashEncoded(c, seed = MinHashSeed).select(PairCols.map(col): _*).localCheckpoint()
      val d = Digest.of(pairs)
      confirmedPairs = d.rows
      d
    }
    val cc = lsh && step("pipeline.components", "pipeline", exp("components"))(Digest.of(
      Dedup.connectedComponents(pairs).select(col("doc_id"), col("rep_id"))))
    if (pairs != null) pairs.unpersist()
    sig && lsh && cc
  }

  // ---- traced-only measurements ----------------------------------------

  /** Candidate pairs of the banded self-join, counted the way
    * Dedup.lshConfirmPairs bands the public signatures (16 bands x 4 rows).
    */
  def candidatePairs(): Long = {
    val sig = Graft.minhashRowsEncoded(chunks, 3, 64, MinHashSeed, collectGrams = false)
    val r = 64 / 16
    val banded = sig.select(col("doc_id"), posexplode(transform(sequence(lit(0), lit(15)),
      b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b))).as(Seq("band", "bh")))
    val (a, b) = (banded.alias("a"), banded.alias("b"))
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
  }

  /** Share of chunks holding no match, per predicate (the skip opportunity). */
  def emptyChunkShare(ps: Seq[Pred]): Double = {
    val docChunk = chunks.select(col("chunk_id"), col("doc_ids"), col("row_count")).as[(Long, Array[Byte], Int)]
      .flatMap { case (id, ids, n) => PackedIds.unpackAll(ids, n).map(_ -> id) }
      .toDF("doc_id", "chunk_id").cache()
    val nChunks = chunks.count().toDouble
    val shares = ps.map { p =>
      val hit = p.scan(chunks).select(col("doc_id")).join(docChunk, "doc_id")
        .agg(countDistinct(col("chunk_id"))).head().getLong(0)
      1.0 - hit / nChunks
    }
    docChunk.unpersist()
    shares.sum / shares.size
  }

  /** The paper's baselines for one predicate: match on the raw token table,
    * and decode every chunk then match.
    */
  def baselines(p: Pred): Boolean = {
    val want = exp(p.key)
    Seq(
      step("query.raw_scan", "query", want)(Digest.of(raw.filter(p.column(col("tokens"))).select(col("doc_id")))),
      step("query.decode_then_match", "query", want)(Digest.of(
        EncodeJob.decodeDf(chunks).filter(p.column(col("tokens"))).select(col("doc_id"))))
    ).forall(identity)
  }

  /** Table-level encode counters: chunks, codec mix, chunk sizes, size. */
  def tableStats(): TableStats = {
    val sizes = chunks.select(col("codec"), col("n_tokens")).as[(String, Long)].collect()
    val toks = sizes.map(_._2).sorted
    val (tokens, bytes, _) = EncodeJob.sizeReport(chunks.as[EncodedChunk])
    TableStats(sizes.groupBy(_._1).map { case (k, v) => k -> v.length.toLong },
      bytes.toDouble / tokens, toks(toks.length / 2), toks.last, sizes.length.toLong)
  }

  // ---- expected answers, from the raw token table ---------------------

  def expectBase(): Unit = exp.group("base") {
    val r = rawRows.map(r => (r.n_tok.toLong, r.tokens.iterator.map(weight).sum))
      .toDF("n", "tw").agg(count(lit(1)), sum("n"), sum("tw")).head()
    Map("totals" -> Digest(r.getLong(0), r.getLong(1)), "hist" -> Digest(r.getLong(1), r.getLong(2)),
      "roundtrip" -> Digest.of(raw.select(col("doc_id"), col("tokens"))))
  }

  def expectScan(): Unit = exp.group("scan") {
    val ps = preds
    val hits = rawRows.flatMap { r =>
      ps.iterator.filter(_.matches(r.tokens)).map(p => (p.idx, r.doc_id, p.cls == "late_decode", r.tokens))
    }.toDF("idx", "doc_id", "late", "tokens")
    val h = when(col("late"), xxhash64(col("doc_id"), col("tokens"))).otherwise(xxhash64(col("doc_id")))
    val got = hits.groupBy(col("idx")).agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))))
      .as[(Int, Long, Long)].collect().map { case (i, n, s) => i -> Digest(n, s) }.toMap
    ps.map(p => p.key -> got.getOrElse(p.idx, Digest(0, 0))).toMap
  }

  /** Histograms are checked against exact totals over the raw tokens: the
    * token (pair) count and the sum of a 16-bit weight of each token (pair);
    * the token totals are part of the base group.
    */
  def expectPrep(): Unit = exp.group("prep") {
    val pairs = rawRows.map { r =>
      val t = r.tokens
      var pw = 0L
      for (i <- 1 until t.length) pw += pairWeight(t(i - 1), t(i))
      (math.max(t.length - 1, 0).toLong, pw)
    }.toDF("pn", "pw").agg(sum("pn"), sum("pw")).head()
    val quality = rawRows.map { r =>
      val counts = r.tokens.groupBy(identity).values.map(_.length)
      var run, best = 0
      for (i <- r.tokens.indices) {
        run = if (i > 0 && r.tokens(i) == r.tokens(i - 1)) run + 1 else 1
        best = math.max(best, run)
      }
      (r.doc_id, r.source, r.n_tok, counts.size, best, if (counts.isEmpty) 0 else counts.max)
    }.toDF(QualityCols: _*)
    val exact = raw.groupBy(col("tokens")).agg(min(col("doc_id")).cast("long").as("rep"), count(lit(1)).cast("long").as("n"))
      .select(col("rep"), col("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    val pack = raw.select(col("source"), col("doc_id").cast("long").as("doc_id"), col("n_tok").cast("long").as("n_tok"))
      .withColumn("offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .groupBy(col("source"), expr(s"offset div $SeqLen").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks_in"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .select(PackCols.map(col): _*)
    Map("bigram" -> Digest(pairs.getLong(0), pairs.getLong(1)), "quality" -> Digest.of(quality),
      "exact" -> Digest.of(exact), "pack" -> Digest.of(pack))
  }

  /** Signatures and pairs from the decoded-domain path
    * (Dedup.minhashLshPairs over the raw table); components from a
    * union-find over those pairs in the benchmark's own code.
    */
  def expectNearDup(): Unit = exp.group("near_dup") {
    val sig = raw.filter(col("n_tok") >= 3).select(col("doc_id"),
      PipelineFunctions.minhashSig(PipelineFunctions.shingleHashes(col("tokens"), 3), 64, MinHashSeed).as("sig"))
    val pairs = Dedup.minhashLshPairs(raw, seed = MinHashSeed).select(PairCols.map(col): _*).cache()
    val edges = pairs.select(col("doc_a"), col("doc_b")).as[(String, String)].collect()
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val comps = parent.keys.toSeq.map(d => (d, find(d))).toDF("doc_id", "rep_id")
    val out = Map("sig" -> Digest.of(sig), "pairs" -> Digest.of(pairs), "components" -> Digest.of(comps))
    pairs.unpersist()
    out
  }
}

object Harness {
  /** 16 band keys of a 64-hash MinHash over 3-shingles (the lap reference). */
  def bands(t: Array[Int]): Array[Long] = {
    val sig = Array.fill(64)(Long.MaxValue)
    var i = 2
    while (i < t.length) {
      val sh = Corpus.mix(t(i - 2).toLong * 0x100000001b3L ^ t(i - 1).toLong * 31 ^ t(i))
      var k = 0
      while (k < 64) { val h = Corpus.mix(sh + k); if (h < sig(k)) sig(k) = h; k += 1 }
      i += 1
    }
    Array.tabulate(16)(b => Corpus.mix(sig(4 * b) ^ sig(4 * b + 1) * 3 ^ sig(4 * b + 2) * 5 ^ sig(4 * b + 3) * 7 + b))
  }

  /** Every throwable, fatal ones included: a failed broadcast surfaces as an
    * OutOfMemoryError, and it is a measured outcome, not a harness crash.
    */
  def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }

  val SeqLen = 2048
  val WeightMul = 1000003L
  val WeightMod = 65521L
  def weight(t: Int): Long = Math.floorMod(t.toLong * WeightMul, WeightMod)
  def pairWeight(t1: Int, t2: Int): Long = Math.floorMod(weight(t1) * 65536 + t2, WeightMod)
  /** The same weights in SQL, over histogram columns. */
  val TokWeight = s"pmod(cast(tok as bigint) * $WeightMul, $WeightMod)"
  val PairWeight = s"pmod(pmod(cast(t1 as bigint) * $WeightMul, $WeightMod) * 65536 + t2, $WeightMod)"
  val MinHashSeed = 42L
  val QualityCols: Seq[String] = Seq("doc_id", "source", "n_tok", "n_distinct", "max_run", "top_cnt")
  val PackCols: Seq[String] = Seq("source", "seq_id", "n_docs", "toks_in", "first_doc", "last_doc")
  val PairCols: Seq[String] = Seq("doc_a", "doc_b", "inter_cnt", "union_cnt")

  /** First line of every cause in the chain, for the failure record. */
  def message(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(4)
      .map(t => s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}")
      .mkString(" <- ").take(600)
}
