package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, posexplode, struct}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-buffer top-k aggregate.
  *
  * The window formulation (`row_number() over (partition by g order by v)
  * <= k`, q8) is correct but shuffles EVERY row to sort whole groups —
  * at 100 TB the exchange carries the corpus. `TopK` is the
  * aggregate formulation: each task keeps a k-slot buffer per group
  * (insertion into a sorted pair of arrays — k is small), merges are
  * sorted-array merges, so the exchange carries at most k rows per
  * (partition, group) and the plan partial-aggregates map-side like any
  * sum. Result is IDENTICAL to the window form (same ordering, ties by
  * id ascending) — `TopKAggSpec` pins it.
  *
  * Ids are BIGINT or STRING, read from the child struct's `id` field.
  * String ids (q89's `score DESC, term`) break key ties in BINARY order:
  * `UTF8String.compareTo` is byte-wise unsigned lexicographic, exactly
  * the order Spark's `SortOrder` uses for default-collated strings, so
  * the result is again the `row_number()` window's. A buffered string is
  * a copy: the input may point into the operator's reused row buffer.
  *
  * Null order keys / ids are skipped (filter them explicitly when the
  * window twin would rank them); NaN keys are skipped for determinism.
  */
case class TopK(
    child: Expression,
    k: Int,
    largest: Boolean,
    distinct: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopK.Buffer] with UnaryLike[Expression] {

  import TopK.Buffer
  require(k >= 1 && k <= 4096, "k must be in [1, 4096]")

  private def idType: DataType = child.dataType.asInstanceOf[StructType](1).dataType
  @transient private lazy val strIds: Boolean = idType == StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b)) if a.dataType == DoubleType &&
        (b.dataType == LongType || b.dataType == StringType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_topk needs struct<key:double, id:bigint|string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", DoubleType), StructField("id", idType))),
    containsNull = false)
  override def nullable: Boolean = false

  /** (key, id) strictly better than slot j? (largest: key desc; ties id asc) */
  private def better(key: Double, l: Long, s: UTF8String, buf: Buffer, j: Int): Boolean = {
    val kj = buf.keys(j)
    if (key != kj) { if (largest) key > kj else key < kj }
    else if (buf.strIds) s.compareTo(buf.strs(j)) < 0
    else l < buf.longs(j)
  }

  override def createAggregationBuffer(): Buffer = new Buffer(k, strIds)

  /** Insert (key, id): the id is `l` for bigint ids, `s` for string ids. */
  private def insert(buf: Buffer, key: Double, l: Long, s: UTF8String): Unit = {
    if (key.isNaN) return
    if (buf.n == k && !better(key, l, s, buf, k - 1)) return
    // find insertion point (k is small — linear is fine and branch-cheap)
    var pos = if (buf.n == k) k - 1 else buf.n
    while (pos > 0 && better(key, l, s, buf, pos - 1)) pos -= 1
    // distinct mode (KMV sketches): an exact (key, id) duplicate sits
    // immediately before the insertion point (ordering is total) — skip it
    if (distinct && pos > 0 && buf.keys(pos - 1) == key &&
        (if (buf.strIds) s == buf.strs(pos - 1) else l == buf.longs(pos - 1))) return
    val moved = math.min(buf.n, k - 1) - pos
    System.arraycopy(buf.keys, pos, buf.keys, pos + 1, moved)
    buf.keys(pos) = key
    if (buf.strIds) {
      System.arraycopy(buf.strs, pos, buf.strs, pos + 1, moved)
      // copy on store, and only for rows that actually enter
      buf.strs(pos) = s.clone()
    } else {
      System.arraycopy(buf.longs, pos, buf.longs, pos + 1, moved)
      buf.longs(pos) = l
    }
    if (buf.n < k) buf.n += 1
  }

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v == null) return buf
    val row = v.asInstanceOf[InternalRow]
    if (row.isNullAt(0) || row.isNullAt(1)) return buf
    if (buf.strIds) insert(buf, row.getDouble(0), 0L, row.getUTF8String(1))
    else insert(buf, row.getDouble(0), row.getLong(1), null)
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    var i = 0
    while (i < other.n) {
      if (buf.strIds) insert(buf, other.keys(i), 0L, other.strs(i))
      else insert(buf, other.keys(i), other.longs(i), null)
      i += 1
    }
    buf
  }

  override def eval(buf: Buffer): Any =
    new GenericArrayData((0 until buf.n).map { i =>
      new GenericInternalRow(Array[Any](buf.keys(i), if (buf.strIds) buf.strs(i) else buf.longs(i)))
    }.toArray[Any])

  /** n, then per slot: key, and the id as a long or as (length, bytes). */
  override def serialize(buf: Buffer): Array[Byte] = {
    val idBytes =
      if (buf.strIds) (0 until buf.n).map(i => 4 + buf.strs(i).numBytes()).sum else 8 * buf.n
    val bb = ByteBuffer.allocate(4 + 8 * buf.n + idBytes)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.keys(i))
      if (buf.strIds) { bb.putInt(buf.strs(i).numBytes()); bb.put(buf.strs(i).getBytes) }
      else bb.putLong(buf.longs(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      buf.keys(i) = bb.getDouble
      if (buf.strIds) {
        val arr = new Array[Byte](bb.getInt)
        bb.get(arr)
        buf.strs(i) = UTF8String.fromBytes(arr)
      } else buf.longs(i) = bb.getLong
      i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopK =
    copy(child = newChild)
  override def prettyName: String = "graft_topk"
}

object TopK {
  /** k slots, best first: `keys`, and the ids in `longs` (bigint ids) or
    * `strs` (string ids) — the other array is null. Per-row code tests
    * `strIds` here, a final field, not the aggregate's lazy id type. */
  final class Buffer(k: Int, val strIds: Boolean) {
    var n = 0
    val keys = new Array[Double](k)
    val longs: Array[Long] = if (strIds) null else new Array[Long](k)
    val strs: Array[UTF8String] = if (strIds) new Array[UTF8String](k) else null
  }

  /** The aggregate's id: a string passes through, anything else is cast
    * to bigint. Chosen once the input is resolved; the optimizer then
    * swaps in the chosen expression. */
  private case class IdOf(child: Expression) extends UnaryExpression with RuntimeReplaceable {
    override lazy val replacement: Expression =
      if (child.dataType == StringType) child else Cast(child, LongType)
    override protected def withNewChildInternal(newChild: Expression): IdOf = copy(child = newChild)
  }

  private def agg(order: Column, id: Column, k: Int, largest: Boolean, distinct: Boolean): Column =
    ColumnBridge.column(
      TopK(
        ColumnBridge.expression(struct(order.cast("double").as("key"),
          ColumnBridge.column(IdOf(ColumnBridge.expression(id))).as("id"))),
        k, largest, distinct).toAggregateExpression())

  /** Column wrapper: top-k (id, key) per group, sorted best-first
    * (largest: key desc, ties id asc). */
  def topK(order: Column, id: Column, k: Int, largest: Boolean = true): Column =
    agg(order, id, k, largest, distinct = false)

  /** Bottom-k DISTINCT (key, id) pairs — the KMV-sketch building block:
    * k smallest distinct hashes per group in O(k) state. Exactness trick:
    * order by (double(h), h) — the double cast is monotone, exact-long
    * ties break on the id — so the buffer holds the exact k smallest
    * longs even where doubles collide. */
  def bottomKDistinct(order: Column, id: Column, k: Int): Column =
    agg(order, id, k, largest = false, distinct = true)

  /** Top-k rows per group as rows: the `group` columns, then `rnk` (int,
    * 1-based), `id` and `key`, best first — the bounded-aggregate form of
    * `row_number() over (partition by group order by key, id) <= k`, the
    * key descending when `largest`.
    * A group whose keys are all null/NaN yields no row. The group columns'
    * names must differ from `rnk`, `id` and `key`. */
  def perGroup(df: DataFrame, group: Seq[Column], key: Column, id: Column, k: Int,
               largest: Boolean = true): DataFrame = {
    val top = df.groupBy(group: _*).agg(topK(key, id, k, largest).as("__buf"))
    val names = top.columns.init
    require(!names.exists(Set("rnk", "id", "key")),
      s"group columns must not be named rnk, id or key: ${names.mkString(", ")}")
    val g = names.map(n => col(s"`${n.replace("`", "``")}`")).toSeq
    top.select(g :+ posexplode(col("__buf")).as(Seq("__i", "__e")): _*)
      .select(g ++ Seq((col("__i") + 1).as("rnk"), col("__e.id").as("id"),
        col("__e.key").as("key")): _*)
  }
}
