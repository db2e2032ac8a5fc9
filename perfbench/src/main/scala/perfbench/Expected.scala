package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** (rows, checksum) of a frame: the row count and the sum of the low 32
  * bits of a 64-bit hash over every column. Both sides of a check project
  * the same columns with the same types, so equal frames give equal pairs
  * in any row order.
  */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = s"$rows rows, checksum $sum"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).bitwiseAND(lit(0xffffffffL))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }
}

/** Expected answers, computed once per corpus from the raw token table and
  * kept on disk next to it. Groups are computed on first use, so a run pays
  * only for the checks it makes.
  */
final class Expected(dir: Path) {
  private val known = scala.collection.mutable.Map.empty[String, Digest]

  def apply(name: String): Digest =
    known.getOrElse(name, throw new NoSuchElementException(s"no expected answer for $name"))

  def group(name: String)(compute: => Map[String, Digest]): Unit = {
    val file = dir.resolve(s"expected-v${Expected.Version}-$name.tsv")
    val entries =
      if (Files.exists(file)) Files.readAllLines(file, UTF_8).asScala.map { l =>
        val Array(k, r, s) = l.split('\t'); k -> Digest(r.toLong, s.toLong)
      }.toMap
      else {
        val m = compute
        val tmp = Paths.get(s"$file.tmp")
        Files.write(tmp, m.map { case (k, d) => s"$k\t${d.rows}\t${d.sum}" }.asJava, UTF_8)
        Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        m
      }
    known ++= entries
  }
}

object Expected {
  /** Bump when a group's checks change: it keys the cached answers. */
  val Version = 2
}
