package graft.rank

import scala.reflect.classTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, Codec, ExpressionEncoder}
import org.apache.spark.sql.expressions.Aggregator

/** The one bounded top-k buffer: at most `k` (key, id) entries in two
  * primitive long arrays, sorted by key (descending or ascending, fixed
  * when built), then id ascending — the paper's evaluation order when
  * descending (score DESC, item ASC; my_utils.py:70-80). A full buffer
  * rejects an entry no better than its last in O(1); an accepted one
  * shifts the worse entries down a slot. With `distinct` a pair equal to
  * a member is dropped. [[merge]] is one linear pass over two buffers and
  * equals inserting the other's entries one by one.
  */
final class TopKBuffer(val k: Int, val descending: Boolean,
    val distinct: Boolean) {
  private var keys = new Array[Long](k)
  private var ids = new Array[Long](k)
  private var n = 0

  def size: Int = n
  def key(j: Int): Long = keys(j)
  def id(j: Int): Long = ids(j)

  /** Strictly before `(ka, ia)` in the buffer's order. */
  private def before(kb: Long, ib: Long, ka: Long, ia: Long): Boolean =
    if (kb != ka) (kb > ka) == descending else ib < ia

  /** Inserts `(key, id)`; returns the slot it now holds, or -1 when it
    * was rejected (no better than a full buffer's last entry, or a
    * duplicate under `distinct`).
    */
  def insert(key: Long, id: Long): Int = {
    if (n == k && !before(key, id, keys(n - 1), ids(n - 1))) return -1
    var p = n
    while (p > 0 && before(key, id, keys(p - 1), ids(p - 1))) p -= 1
    if (distinct && p > 0 && keys(p - 1) == key && ids(p - 1) == id) return -1
    val moved = math.min(n, k - 1) - p
    System.arraycopy(keys, p, keys, p + 1, moved)
    System.arraycopy(ids, p, ids, p + 1, moved)
    keys(p) = key; ids(p) = id
    if (n < k) n += 1
    p
  }

  /** Keeps the best `k` of this buffer's and `that`'s entries (one
    * linear merge; under `distinct` a pair both hold is kept once) and
    * returns this buffer.
    */
  def merge(that: TopKBuffer): TopKBuffer = {
    val ks = new Array[Long](k)
    val is = new Array[Long](k)
    var i = 0
    var j = 0
    var m = 0
    while (m < k && (i < n || j < that.n)) {
      val takeThis = j == that.n ||
        (i < n && !before(that.keys(j), that.ids(j), keys(i), ids(i)))
      if (takeThis) {
        if (distinct && j < that.n && that.keys(j) == keys(i) && that.ids(j) == ids(i)) j += 1
        ks(m) = keys(i); is(m) = ids(i); i += 1
      } else {
        ks(m) = that.keys(j); is(m) = that.ids(j); j += 1
      }
      m += 1
    }
    keys = ks; ids = is; n = m
    this
  }
}

object TopKBuffer {

  /** A buffer encoded as its two arrays trimmed to its size (struct
    * fields `_1` keys, `_2` ids), decoded into a buffer built with the
    * same settings; the arrays only ever come from an encoded buffer.
    */
  def encoder(k: Int, descending: Boolean, distinct: Boolean): Encoder[TopKBuffer] =
    ExpressionEncoder(AgnosticEncoders.TransformingEncoder(
      classTag[TopKBuffer],
      ScalaReflection.encoderFor[(Array[Long], Array[Long])],
      () => new Codec[TopKBuffer, (Array[Long], Array[Long])] {
        override def encode(b: TopKBuffer): (Array[Long], Array[Long]) =
          (java.util.Arrays.copyOf(b.keys, b.n), java.util.Arrays.copyOf(b.ids, b.n))
        override def decode(a: (Array[Long], Array[Long])): TopKBuffer = {
          val b = new TopKBuffer(k, descending, distinct)
          System.arraycopy(a._1, 0, b.keys, 0, a._1.length)
          System.arraycopy(a._2, 0, b.ids, 0, a._2.length)
          b.n = a._1.length
          b
        }
      }))
}

/** The one typed bounded top-k aggregate: each group's `(key, id)` rows
  * reduce into a [[TopKBuffer]] built with `(k, descending, distinct)`,
  * so every partial buffer, shuffle row and merge buffer holds at most
  * `k` entries. A pair in the global top `k` has fewer than `k` pairs
  * before it in any partition, so it survives that partition's partial,
  * and merging the partials yields exactly the global answer. `reduce`
  * and `merge` update and return their first argument.
  */
final class TopKBufferAgg(k: Int, descending: Boolean, distinct: Boolean)
    extends Aggregator[(Long, Long), TopKBuffer, TopKBuffer] {
  override def zero: TopKBuffer = new TopKBuffer(k, descending, distinct)
  override def reduce(b: TopKBuffer, a: (Long, Long)): TopKBuffer = { b.insert(a._1, a._2); b }
  override def merge(x: TopKBuffer, y: TopKBuffer): TopKBuffer = x.merge(y)
  override def finish(b: TopKBuffer): TopKBuffer = b
  override def bufferEncoder: Encoder[TopKBuffer] =
    TopKBuffer.encoder(k, descending, distinct)
  override def outputEncoder: Encoder[TopKBuffer] = bufferEncoder
}
