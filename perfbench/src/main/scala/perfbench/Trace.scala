package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer. `op` is the closed-loop request the span
  * belongs to (-1 outside the loop); `parent` is the enclosing span (-1 at
  * the top).
  */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Long,
                      startNs: Long, endNs: Long, wallStartMs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job group. */
final class SpanExec {
  var jobs = 0
  var tasks = 0
  var taskNs = 0L
  var gcNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** stage id -> (submitted ms, completed ms, task run times in ns) */
  val stages = mutable.LinkedHashMap.empty[Int, (Long, Long, mutable.ArrayBuffer[Long])]

  def add(o: SpanExec): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs; gcNs += o.gcNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    stages ++= o.stages
  }

  /** max / median task time of the stage with the largest task-time total. */
  def taskSkew: Double = {
    val slowest = stages.values.map(_._3).filter(_.nonEmpty).maxByOption(_.sum)
    slowest.fold(1.0) { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(s(s.length / 2), 1L)
    }
  }

  /** Span wall time not covered by any of its stages (planning, collects,
    * broadcast builds on the driver).
    */
  def driverSeconds(span: Span): Double = {
    // stage times are wall-clock ms, so clip them to the span's wall interval
    val lo = span.wallStartMs
    val hi = lo + (span.endNs - span.startNs) / 1000000L
    val ivs = stages.values.map { case (a, b, _) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var coveredMs = 0L
    var end = Long.MinValue
    for ((a, b) <- ivs) {
      coveredMs += math.max(0L, b - math.max(a, end))
      end = math.max(end, b)
    }
    math.max(0.0, span.seconds - coveredMs / 1e3)
  }
}

/** Span recorder. Disabled, it only runs the body. Enabled, every span gets
  * a job group `perfbench-span-<id>` so the listener can attribute the jobs
  * the body starts; spans are kept in memory and written out at exit.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var currentOp: Long = -1L

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, name, layer, parent, currentOp, t0, t1, wall0, ok)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}

object Tracer {
  val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
}

/** Attributes jobs, stages and tasks to the span whose job group started
  * them, and tracks cached plus broadcast block memory held at once.
  */
final class ExecListener extends SparkListener {
  val bySpan = mutable.Map.empty[Int, SpanExec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val blockMem = mutable.Map.empty[String, Long]
  private var heldBytes = 0L
  @volatile var peakBytes = 0L
  @volatile var events = 0L

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.Prefix)).map(_.stripPrefix(Tracer.Prefix).toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    spanOf(e.properties).foreach { s =>
      val x = bySpan.getOrElseUpdate(s, new SpanExec)
      x.jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val info = e.stageInfo
    for (s <- stageSpan.get(info.stageId); x <- bySpan.get(s)) {
      val (_, _, ts) = x.stages.getOrElse(info.stageId, (0L, 0L, mutable.ArrayBuffer.empty[Long]))
      x.stages(info.stageId) =
        (info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L), ts)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    for (s <- stageSpan.get(e.stageId); x <- bySpan.get(s); m <- Option(e.taskMetrics)) {
      x.tasks += 1
      val runNs = m.executorRunTime * 1000000L
      x.taskNs += runNs
      x.gcNs += m.jvmGCTime * 1000000L
      x.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val (a, b, ts) = x.stages.getOrElseUpdate(e.stageId, (0L, 0L, mutable.ArrayBuffer.empty[Long]))
      ts += runNs
      x.stages(e.stageId) = (a, b, ts)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    events += 1
    val info = e.blockUpdatedInfo
    val id = info.blockId
    if (id.isRDD || id.isBroadcast) {
      val now = if (info.storageLevel.useMemory) info.memSize else 0L
      heldBytes += now - blockMem.getOrElse(id.name, 0L)
      if (now == 0L) blockMem.remove(id.name) else blockMem(id.name) = now
      peakBytes = math.max(peakBytes, heldBytes)
    }
  }

  /** Waits until the asynchronous listener bus has gone quiet. */
  def drain(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && events != last) {
      last = events
      Thread.sleep(200)
    }
  }
}
