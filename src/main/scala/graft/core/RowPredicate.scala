package graft.core

import org.apache.spark.unsafe.types.UTF8String

/** Does the encoded row `data[from, to)` match? One is built per chunk
  * header by an operator's `prepare` ([[PatternMatch.prepare]],
  * [[RangeMatch.prepare]], [[SetMatch.prepare]]) with the codec chosen and
  * every header artifact parsed, so a row costs only its kernel. An abstract
  * class rather than a Function3, which would box both offsets on every row.
  */
abstract class RowPredicate {
  def apply(data: Array[Byte], from: Int, to: Int): Boolean
}

object RowPredicate {
  /** The chunk provably has no matching row; scans skip it whole. */
  val Never: RowPredicate = (_, _, _) => false
}

/** Per-thread bounded cache keyed by (codec name, header bytes), with a
  * content check on hit — a hash collision must never return another
  * header's artifact. Chunks of one encode group share a header, so
  * per-row evaluation parses each header and builds each matcher once. The
  * codec is part of the key because a header alone is ambiguous: bitpack
  * and for share the 1-byte width header, rle and raw both have an empty
  * one. `build` receives a null codec for header-only lookups.
  */
private[graft] final class HeaderCache[V](build: (String, Array[Byte]) => V, max: Int = 32) {
  private final class Entry(val codec: UTF8String, val header: Array[Byte], val value: V)
  private val tl = new ThreadLocal[java.util.LinkedHashMap[Int, Entry]] {
    override def initialValue() =
      new java.util.LinkedHashMap[Int, Entry](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Int, Entry]) = size > max
      }
  }

  def get(header: Array[Byte]): V = get(null, header)

  def get(codec: UTF8String, header: Array[Byte]): V = {
    val key = 31 * java.util.Arrays.hashCode(header) + (if (codec == null) 0 else codec.hashCode)
    val c = tl.get()
    val hit = c.get(key)
    if (hit != null && hit.codec == codec && java.util.Arrays.equals(hit.header, header)) hit.value
    else {
      // the caller's string may view a reused row buffer: keep a copy
      val own = if (codec == null) null else codec.clone()
      val v = build(if (own == null) null else own.toString, header)
      c.put(key, new Entry(own, header, v))
      v
    }
  }
}

/** Header artifacts shared by every expression on a thread. */
private[graft] object EvalCaches {
  private val symtabs = new HeaderCache[SymTab]((_, h) => SymTab.fromBytes(h))
  private val dicts = new HeaderCache[Array[Int]]((_, h) => DictCodec.readDict(h))
  private val decoders = new HeaderCache[RowDecoder]((c, h) => Codecs.byName(c).decoder(h))

  def symtab(header: Array[Byte]): SymTab = symtabs.get(header)
  /** Sorted dictionary values from a dict-codec header. */
  def dict(header: Array[Byte]): Array[Int] = dicts.get(header)
  def decoder(codec: UTF8String, header: Array[Byte]): RowDecoder = decoders.get(codec, header)
}
