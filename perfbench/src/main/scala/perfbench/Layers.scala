package perfbench

/** Per-layer metrics of a traced run, named after the repository's modules
  * (`core`, `encode`, `query`, `pipeline`) plus `exec`, the Spark runtime
  * under all of them.
  */
object Layers {
  val TableCodecs: Seq[String] = Seq("fsst", "dict", "rle", "for", "bitpack", "raw")

  /** Span name -> (metric, scale from seconds). Each metric is the median
    * over the run's spans of that name.
    */
  private val Timed: Seq[(String, String, Double)] =
    Seq(("encode.encode_write", "encode.encode_write_s", 1.0), ("encode.decode", "encode.decode_s", 1.0)) ++
      Pred.Classes.map(c => (s"query.scan.$c", s"query.scan_ms.$c", 1e3)) ++
      Seq(("query.raw_scan", "query.raw_scan_ms", 1e3), ("query.decode_then_match", "query.decode_then_match_ms", 1e3),
        ("query.hist", "query.hist_s", 1.0), ("query.bigram", "query.bigram_s", 1.0),
        ("query.quality", "query.quality_s", 1.0), ("query.exact_dedup", "query.exact_dedup_s", 1.0),
        ("query.minhash_sig", "query.minhash_sig_s", 1.0), ("pipeline.pack", "pipeline.pack_s", 1.0),
        ("pipeline.lsh_pairs", "pipeline.lsh_pairs_s", 1.0), ("pipeline.components", "pipeline.components_s", 1.0))

  def unit(metric: String): String = metric match {
    case "setup_s" => "s"
    case "rel_cost" => "1"
    case "bench.tok_per_s" => "tok/s"
    case "bytes_per_token" => "B/tok"
    case m if m.contains("ns_per_tok") => "ns/tok"
    case m if m.startsWith("core.bytes_per_tok") => "B/tok"
    case m if m.endsWith("_ms") || m.contains("_ms.") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "encode.chunk_tok_p50" | "encode.chunk_tok_max" => "tok"
    case m if m.startsWith("encode.chunks") || m.startsWith("encode.codec_chunks") ||
      m.endsWith("_pairs") || m == "exec.jobs" || m == "exec.tasks" => "count"
    case _ => "1"
  }

  def fromSpans(spans: Seq[Span], preds: Seq[Pred], exp: Expected, rows: Long): Seq[(String, Double)] = {
    val byName = spans.groupBy(_.name)
    val timed = Timed.map { case (span, metric, scale) =>
      metric -> Main.median(byName.getOrElse(span, Nil).map(_.seconds)) * scale
    }
    val scans = spans.filter(_.name.startsWith("query.scan.")).map(_.seconds * 1e3)
    val matchShare = preds.map(p => exp(p.key).rows).sum.toDouble / (preds.size * rows)
    timed ++ Seq("query.scan_tail_ms" -> Main.tail(scans)._1, "query.match_share" -> matchShare)
  }

  def table(t: TableStats): Seq[(String, Double)] =
    Seq("encode.chunks" -> t.chunks.toDouble) ++
      TableCodecs.map(c => s"encode.codec_chunks.$c" -> t.codecChunks.getOrElse(c, 0L).toDouble) ++
      Seq("encode.chunk_tok_p50" -> t.chunkTokP50.toDouble, "encode.chunk_tok_max" -> t.chunkTokMax.toDouble)

  /** Spark work of the traced loop, per request (spans grouped by request). */
  def exec(loopSpans: Seq[Span], l: ExecListener, threads: Int, peakBytes: Long): Seq[(String, Double)] = {
    val requests = loopSpans.groupBy(_.op).toSeq.map { case (_, ss) =>
      val top = ss.find(_.parent == -1).get
      val x = new SpanExec
      ss.flatMap(s => l.bySpan.get(s.id)).foreach(x.add)
      (top, x)
    }
    val n = math.max(requests.size, 1).toDouble
    def per(f: SpanExec => Double): Double = requests.map(r => f(r._2)).sum / n
    val wall = requests.map(_._1.seconds).sum
    Seq(
      "exec.jobs" -> per(_.jobs), "exec.tasks" -> per(_.tasks),
      "exec.task_s" -> per(_.taskNs / 1e9), "exec.gc_s" -> per(_.gcNs / 1e9),
      "exec.shuffle_mb" -> per(_.shuffleBytes / 1048576.0), "exec.spill_mb" -> per(_.spillBytes / 1048576.0),
      "exec.slot_util" -> requests.map(_._2.taskNs / 1e9).sum / (wall * threads),
      "exec.task_skew" -> Main.median(requests.map(_._2.taskSkew)),
      "exec.driver_s" -> requests.map { case (s, x) => x.driverSeconds(s) }.sum / n,
      "exec.peak_storage_mb" -> peakBytes / 1048576.0)
  }

  def execRecord(x: SpanExec, s: Span): Map[String, Any] = Json.obj(
    "jobs" -> x.jobs, "tasks" -> x.tasks, "task_s" -> x.taskNs / 1e9, "gc_s" -> x.gcNs / 1e9,
    "shuffle_mb" -> x.shuffleBytes / 1048576.0, "spill_mb" -> x.spillBytes / 1048576.0,
    "task_skew" -> x.taskSkew, "driver_s" -> x.driverSeconds(s))
}
