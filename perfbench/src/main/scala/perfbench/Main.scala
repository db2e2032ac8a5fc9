package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one JVM, one client in a
  * closed loop.
  *
  *   perfbench.Main --workload <ingest|scan_mix|prep_stats|near_dup>
  *                  --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *                  [--rows <n>] [--threads <n>]
  *
  * The last line on stdout is one JSON object {correct, attempted, failed,
  * metrics}: `--trace 0` gives the end-to-end metrics, `--trace 1` the
  * per-layer ones. A run record (host, settings, sizes, failures and, when
  * traced, every span) is written to <work>/runs/ at exit.
  */
object Main {
  val Workloads: Seq[String] = Seq("ingest", "scan_mix", "prep_stats", "near_dup")
  val DefaultRows = 20000L
  /** Table encodes timed in set-up; set-up time uses their median. */
  val SetupEncodes = 3
  /** Requests run before the loop. Request times keep falling while the JIT
    * compiles, for about one pass over the predicate stream or three laps.
    */
  val WarmupRequests: Map[String, Int] = Map("ingest" -> 3, "scan_mix" -> 36, "prep_stats" -> 3, "near_dup" -> 3)

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); the maximum when there are ten or fewer.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.length <= 10) (s.lastOption.getOrElse(Double.NaN), 100.0, s.length)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length, s.length)
  }

  /** `latS`: request times; `relCost`: each request's time over its
    * reference's (empty when the loop runs without references).
    */
  final case class Loop(requests: Int, completed: Int, wallS: Double, latS: Seq[Double], relCost: Seq[Double],
                        referenceS: Seq[Double]) {
    def tokPerS(tokens: Long): Double = tokens.toDouble * completed / latS.sum
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case a => usage(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") match { case "0" => false; case "1" => true; case t => usage(s"bad --trace $t") }
    val work = Paths.get(opt("work")).toAbsolutePath
    val rows = opts.get("rows").map(_.toLong).getOrElse(DefaultRows)
    val nproc = Runtime.getRuntime.availableProcessors()
    val threads = opts.get("threads").map(_.toInt).getOrElse(math.min(nproc, 4))
    if (threads > nproc) usage(s"refusing $threads worker threads on a host with nproc = $nproc")

    val loadBefore = loadAvg()
    val runDir = work.resolve("run")
    deleteTree(runDir)
    Files.createDirectories(runDir)
    val corpus = if (workload == "near_dup") "near_dup" else "base"
    val cacheDir = work.resolve("cache").resolve(s"v${Corpus.Version}-$corpus-s$seed-n$rows")
    Files.createDirectories(cacheDir)

    // ---- session start (part of set-up) -------------------------------
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.query.Graft.install(spark)
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    // ---- inputs and expected answers (cached by seed and size) ---------
    val g0 = System.nanoTime()
    val plan = Corpus.plan(seed, rows, nearDup = corpus == "near_dup")
    val rawPath = cacheDir.resolve("raw.parquet")
    if (!Files.exists(rawPath.resolve("_SUCCESS"))) {
      val tmp = cacheDir.resolve("raw.parquet.tmp")
      deleteTree(tmp)
      Corpus.table(spark, plan, threads * 2).write.parquet(tmp.toString)
      deleteTree(rawPath)
      Files.move(tmp, rawPath)
    }
    val tracer = new Tracer(spark.sparkContext)
    val h = new Harness(spark, tracer, plan, rawPath.toString, runDir, new Expected(cacheDir))
    h.expectBase()
    if (traced || workload == "scan_mix") h.expect("scan")(h.expectScan())
    if (traced || workload == "prep_stats") h.expect("prep")(h.expectPrep())
    if (traced || workload == "near_dup") h.expect("near_dup")(h.expectNearDup())
    val corpusTokens = h.exp("totals").sum
    val inputsS = (System.nanoTime() - g0) / 1e9

    // ---- set-up: encode the table the workload reads, then warm up -----
    val encodeS = (1 to SetupEncodes).map { _ =>
      val s = System.nanoTime(); h.encodeTable(); (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    (0 until WarmupRequests(workload)).foreach { i => h.request(workload, i); h.reference(workload, i) }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(encodeS) + warmupS
    val table = h.tableStats()

    def loop(maxRequests: Int, maxSeconds: Double, withReference: Boolean): Loop = {
      val lat, rel, ref = mutable.ArrayBuffer.empty[Double]
      var completed = 0
      val start = System.nanoTime()
      var i = 0
      while (i < maxRequests && (System.nanoTime() - start) / 1e9 < maxSeconds) {
        tracer.currentOp = i
        val s = System.nanoTime()
        val ok = h.request(workload, i)
        val took = (System.nanoTime() - s) / 1e9
        if (ok) completed += 1
        lat += took
        if (withReference) h.reference(workload, i).foreach { r => ref += r; if (ok) rel += took / r }
        i += 1
      }
      tracer.currentOp = -1
      Loop(i, completed, (System.nanoTime() - start) / 1e9, lat.toSeq, rel.toSeq, ref.toSeq)
    }

    // ---- the measured loop, tracing off --------------------------------
    val plain = loop(Int.MaxValue, seconds, withReference = true)
    val (tailV, tailP, tailN) = tail(plain.latS)

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var coreChecks = 0
    val coreFailures = mutable.ArrayBuffer.empty[String]
    if (!traced) {
      metrics ++= Seq(
        "setup_s" -> setupS,
        "rel_cost" -> median(plain.relCost),
        "bytes_per_token" -> table.bytesPerToken)
    } else {
      // ---- the same requests again, traced, then the layer pass --------
      val listener = new ExecListener
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
      val first = tracer.spans.size
      val tl = loop(plain.requests, Double.MaxValue, withReference = false)
      listener.drain()
      val peakBytes = listener.peakBytes
      val loopSpans = tracer.spans.slice(first, tracer.spans.size).toSeq

      val onePerClass = Pred.Classes.map(c => h.preds.find(_.cls == c).get)
      if (workload != "ingest") h.ingest()
      if (workload != "scan_mix") onePerClass.foreach(h.scan)
      onePerClass.filter(p => Seq("contains", "prefix", "suffix", "multi_infix").contains(p.cls)).foreach(h.baselines)
      if (workload != "prep_stats") h.prepLap()
      if (workload != "near_dup") h.nearDupLap()
      val candidates = tracer.span("bench.candidate_pairs", "bench")(h.candidatePairs())
      val emptyShare = tracer.span("bench.empty_chunk_share", "bench")(h.emptyChunkShare(onePerClass))
      tracer.enabled = false
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      val core = CorePass.run(plan)
      coreChecks = core.checks
      coreFailures ++= core.failures

      metrics ++= core.metrics
      metrics ++= Layers.fromSpans(tracer.spans.toSeq, h.preds, h.exp, rows)
      metrics ++= Layers.table(table)
      metrics ++= Seq(
        "pipeline.confirmed_pairs" -> h.confirmedPairs.toDouble,
        "pipeline.candidate_pairs" -> candidates.toDouble,
        "pipeline.confirm_ratio" -> h.confirmedPairs.toDouble / math.max(candidates, 1L),
        "query.empty_chunk_share" -> emptyShare)
      metrics ++= Layers.exec(loopSpans, listener, threads, peakBytes)
      metrics ++= Seq(
        "bench.op_p50_ms" -> median(plain.latS) * 1e3,
        "bench.tok_per_s" -> plain.tokPerS(corpusTokens),
        "bench.reference_ms" -> median(plain.referenceS) * 1e3,
        "trace.overhead_share" -> (tl.latS.sum - plain.latS.sum) / plain.latS.sum)
      extra ++= Seq(
        "traced_requests_s" -> tl.latS.sum, "untraced_requests_s" -> plain.latS.sum,
        "tracing_overhead_s" -> (tl.latS.sum - plain.latS.sum),
        "spans" -> tracer.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ok" -> s.ok,
          "exec" -> listener.bySpan.get(s.id).map(x => Layers.execRecord(x, s)))))
    }

    val failures = h.failures.toSeq
    val attempted = h.records.size + coreChecks
    val failed = failures.size + coreFailures.size
    val loadAfter = loadAvg()
    val conf = spark.sparkContext.getConf
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "host" -> Json.obj(
        "nproc" -> nproc, "threads" -> threads, "master" -> conf.get("spark.master"),
        "load1_before" -> loadBefore, "load1_after" -> loadAfter,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
        "spark" -> conf.getAll.filterNot(_._1.startsWith("spark.app")).sortBy(_._1).toMap,
        "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / (1 << 20)),
      "input" -> Json.obj(
        "generator_version" -> Corpus.Version, "corpus" -> corpus, "rows" -> rows, "tokens" -> corpusTokens,
        "raw_parquet_mb" -> dirBytes(rawPath) / 1048576.0, "table_mb" -> dirBytes(runDir.resolve("table")) / 1048576.0,
        "near_dup_planted_copies" -> plan.dupRows, "chunks" -> table.chunks),
      "setup" -> Json.obj("inputs_and_expected_s" -> inputsS, "session_s" -> sessionS, "encode_s" -> encodeS, "warmup_s" -> warmupS),
      "loop" -> Json.obj("requests" -> plain.requests, "completed" -> plain.completed, "wall_s" -> plain.wallS,
        "latencies_ms" -> plain.latS.map(_ * 1e3), "rel_cost" -> plain.relCost,
        "p50_ms" -> median(plain.latS) * 1e3, "tail_ms" -> tailV * 1e3, "tail_percentile" -> tailP,
        "tail_samples" -> tailN, "tok_per_s" -> plain.tokPerS(corpusTokens),
        "reference_p50_ms" -> median(plain.referenceS) * 1e3),
      "op_log" -> h.records.map(r => Seq(r.name, r.request, r.seconds)),
      "ops" -> h.records.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        n -> Json.obj("n" -> rs.size, "failed" -> rs.count(!_.ok), "median_s" -> median(rs.map(_.seconds).toSeq))
      }.toMap,
      "failures" -> (failures.map(f => Json.obj("op" -> f.name, "request" -> f.request,
        "seconds_to_failure" -> f.secondsToFailure, "message" -> f.message)) ++
        coreFailures.map(m => Json.obj("op" -> "core", "message" -> m))),
      "metrics" -> metrics) ++ extra
    val runs = work.resolve("runs")
    Files.createDirectories(runs)
    val recordPath = runs.resolve(s"$workload-s$seed-t${if (traced) 1 else 0}.json")
    Files.write(recordPath, Json(record).getBytes(UTF_8))
    spark.stop()
    deleteTree(runDir)

    System.err.println(s"perfbench: $workload seed=$seed requests=${plain.requests} " +
      s"failed=$failed record=$recordPath")
    failures.foreach(f => System.err.println(s"perfbench: FAILED ${f.name} after ${f.secondsToFailure}s: ${f.message}"))
    println(Json(Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Json.obj("value" -> v, "unit" -> Layers.unit(k)) })))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close() }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
