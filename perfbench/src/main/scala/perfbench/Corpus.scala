package perfbench

import graft.format.TokenRow
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded corpus generator owned by the benchmark.
  *
  * Shape: the five sources of `graft.spark.SyntheticData` with the same
  * shares (row id mod 5) and length laws: lognormal-ish lengths with median
  * 64 tokens; `skew` docs are 4x that, and 10% of them are 20-100x the
  * median; zipf/skew docs carry 20% planted hot phrases.
  *
  * Two generators per row: the shape (source, length, where phrases and
  * run switches fall, phrase lengths, cluster layout) is keyed by the row
  * id alone, and every token value is keyed by the seed given on the
  * command line. Two seeds thus give two corpora with different tokens and
  * the same shape, so the work a run does, and its time, does not swing
  * with how many 6400-token docs a seed happens to draw.
  *
  * Doc ids are zero-padded decimal strings, so they sort like numbers and
  * cast to bigint (the packing manifest and exact dedup read them as such).
  *
  * Query plants (all workloads): 16 rare 3-token phrases, each put into a
  * zipf doc with probability 1/256 per phrase, so each matches about 0.08%
  * of all docs. The hot phrases are the 64 SyntheticData-style ones.
  *
  * Near-duplicate plants (`near_dup` only): walking the zipf docs in id
  * order, a doc not yet in a cluster starts one with probability 1/10. A
  * cluster has 2 + Geometric(1/2) members capped at 16 (mean about 3), so
  * clusters cover about 25% of zipf docs, 5% of all docs. The origin keeps
  * its tokens; each other member replaces the next zipf doc with a copy of
  * the origin in which every token is substituted with probability 1/50
  * (3-shingle Jaccard to the origin about 0.89). All members stay in the
  * zipf source, so source shares are unchanged.
  */
object Corpus {
  /** Bump when any generated byte changes: it keys the on-disk cache. */
  val Version = 2

  val Sources: Array[String] = Array("zipf", "lowcard", "runs", "narrow", "skew")
  val ZipfVocab = 32000
  val ClusterStart = 0.1
  val DupSubstitution = 1.0 / 50
  val MaxCluster = 16
  val RarePhrases = 16
  val RarePlantOdds = 256
  private val ShapeKey = 0x5eedL

  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(key: Long) {
    private var ctr = mix(key)
    def nextLong(): Long = { ctr += 1; mix(ctr) }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(bound: Int): Int = (nextDouble() * bound).toInt
  }

  def docId(id: Long): String = f"$id%010d"
  def sourceOf(id: Long): String = Sources((id % Sources.length).toInt)

  /** Everything the row generator needs, derived from the seed alone. */
  final case class Plan(seed: Long, rows: Long, hot: Array[Array[Int]], rare: Array[Array[Int]],
                        lowcard: Array[Int], copyOf: Map[Long, Long]) {
    def dupRows: Int = copyOf.size
  }

  def plan(seed: Long, rows: Long, nearDup: Boolean): Plan = {
    val shape = new Rng(ShapeKey)
    val r = new Rng(seed * 31 + 1)
    val hot = Array.fill(64)(Array.fill(2 + shape.nextInt(7))(r.nextInt(ZipfVocab)))
    // rare phrases use the top of the zipf vocabulary, which u^3 sampling
    // almost never emits on its own
    val rare = Array.fill(RarePhrases)(Array.fill(3)(ZipfVocab - 1 - r.nextInt(ZipfVocab / 20)))
    val lowcard = Array.fill(200)(r.nextInt(1 << 28))
    Plan(seed, rows, hot, rare, lowcard, if (nearDup) clusters(rows) else Map.empty)
  }

  /** copy id -> origin id, laid out left to right over the zipf ids. */
  private def clusters(rows: Long): Map[Long, Long] = {
    val r = new Rng(ShapeKey + 2)
    val out = Map.newBuilder[Long, Long]
    val zipfIds = Iterator.iterate(0L)(_ + Sources.length).takeWhile(_ < rows)
    var origin = -1L
    var left = 0
    for (id <- zipfIds) {
      if (left > 0) { out += id -> origin; left -= 1 }
      else if (r.nextDouble() < ClusterStart) {
        var size = 2
        while (size < MaxCluster && r.nextDouble() < 0.5) size += 1
        origin = id
        left = size - 1
      }
    }
    out.result()
  }

  def row(p: Plan, id: Long): TokenRow = p.copyOf.get(id) match {
    case Some(origin) =>
      val o = baseRow(p, origin)
      val shape = new Rng(ShapeKey * 1000003L ^ mix(id + 7))
      val r = new Rng(p.seed * 1000003L ^ mix(id + 7))
      val toks = o.tokens.map(t => if (shape.nextDouble() < DupSubstitution) r.nextInt(ZipfVocab) else t)
      TokenRow(docId(id), toks, toks.length, o.source)
    case None => baseRow(p, id)
  }

  private def baseRow(p: Plan, id: Long): TokenRow = {
    val shape = new Rng(ShapeKey * 1000003L ^ mix(id))
    val r = new Rng(p.seed * 1000003L ^ mix(id))
    val source = sourceOf(id)
    val g = math.sqrt(-2.0 * math.log(shape.nextDouble() + 1e-12)) *
      math.cos(2.0 * math.Pi * shape.nextDouble())
    var n = math.max(1, (64.0 * math.exp(0.6 * g)).toInt)
    if (source == "skew") {
      if (shape.nextDouble() < 0.10) n = 64 * (20 + shape.nextInt(81))
      else n = n * 4
    }
    val toks = new Array[Int](n)
    source match {
      case "zipf" | "skew" =>
        var i = 0
        while (i < n) {
          if (shape.nextDouble() < 0.2) {
            val ph = p.hot(shape.nextInt(64))
            var j = 0
            while (j < ph.length && i < n) { toks(i) = ph(j); i += 1; j += 1 }
          } else {
            val u = r.nextDouble()
            toks(i) = (ZipfVocab * u * u * u).toInt
            i += 1
          }
        }
        if (source == "zipf") {
          var k = 0
          while (k < p.rare.length) {
            if (shape.nextInt(RarePlantOdds) == 0 && n >= 3) {
              val at = shape.nextInt(n - 2)
              System.arraycopy(p.rare(k), 0, toks, at, 3)
            }
            k += 1
          }
        }
      case "lowcard" =>
        var i = 0
        while (i < n) { toks(i) = p.lowcard(r.nextInt(200)); i += 1 }
      case "runs" =>
        var i = 0
        var v = r.nextInt(1000)
        while (i < n) {
          if (shape.nextDouble() < 0.05) v = r.nextInt(1000)
          toks(i) = v
          i += 1
        }
      case "narrow" =>
        val base = r.nextInt(1 << 24)
        var i = 0
        while (i < n) { toks(i) = base + r.nextInt(256); i += 1 }
    }
    TokenRow(docId(id), toks, n, source)
  }

  def table(spark: SparkSession, p: Plan, partitions: Int): Dataset[TokenRow] = {
    import spark.implicits._
    spark.range(0L, p.rows, 1L, partitions).map((l: java.lang.Long) => row(p, l.longValue))
  }
}
