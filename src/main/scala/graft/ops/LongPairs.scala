package graft.ops

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Primitive `(Long, Long)` records for the RDD-held graph loops
  * ([[Dedup.connectedComponentsWithRounds]], [[WebOps.pageRank]]).
  *
  * The primitive-record rule: every shuffle here moves `(Long, Long)`
  * pairs, keyed and valued by `Long`. Spark serializes an RDD shuffle
  * with Kryo only when both the key and the value ClassTag are primitive
  * (or String, `SerializerManager.canUseKryo`); a tuple or `Any` key falls
  * back to Java serialization, which made a 2×10⁶-edge CC loop 1.7×
  * slower on 4 cores.
  *
  * Per-task memory: a reduce partition of r records is read into two
  * `long[]` buffers (16 bytes per record; up to 3× that during the last
  * doubling copy), sorted in place by (key, value) and trimmed into a
  * [[Block]]. Nothing boxed outlives its record, and no key group (a
  * graph neighbourhood) is ever collected into one row or one object.
  * Nothing spills either: the loops size their partitioner from their
  * input's record count ([[width]]), so r stays near
  * `Adapt.rowsPerTask` records on a balanced graph, but a partition
  * always holds its key groups whole, and a partition past 2^30 records
  * fails with a clear error instead of overflowing its buffers.
  */
private[ops] object LongPairs {

  /** One reduce partition's records sorted by (key, value): `k(i)`,
    * `v(i)` is record i. Loop state is held one block per partition.
    */
  final class Block(val k: Array[Long], val v: Array[Long]) extends Serializable {
    def size: Int = k.length
  }

  /** The common id type of `src` and `dst`; the loops read ids as Long,
    * so it must be integral.
    */
  def idType(edges: DataFrame): DataType = {
    val t = edges.select(least(col("src"), col("dst"))).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"graph ids must be integral, got src/dst of type $t")
    t
  }

  /** The two bigint columns of `df` as records. */
  def read(df: DataFrame): RDD[(Long, Long)] =
    df.queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))

  /** The loop partition count for `rows` input records: the size-derived
    * `Adapt.partitionsForRows`, floored at the cluster's parallelism.
    */
  def width(spark: SparkSession, rows: Long): Int =
    math.max(spark.sparkContext.defaultParallelism, Adapt.partitionsForRows(spark, rows))

  /** Records as a two-column frame, each column `(name, type)` cast from
    * bigint to its type (the input's id type, for an id column).
    */
  def toFrame(spark: SparkSession, rows: RDD[(Long, Long)],
              key: (String, DataType), value: (String, DataType)): DataFrame =
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }, StructType(Seq(
        StructField(key._1, LongType, nullable = false),
        StructField(value._1, LongType, nullable = false))))
      .select(col(key._1).cast(key._2).as(key._1), col(value._1).cast(value._2).as(value._1))

  /** Shuffle `recs` to `part` and sort each partition into one [[Block]];
    * `unique` also drops repeated records.
    */
  def shuffleSorted(recs: RDD[(Long, Long)], part: Partitioner,
                    unique: Boolean = false): RDD[Block] =
    recs.partitionBy(part).mapPartitions(it => Iterator(sorted(it, unique)),
      preservesPartitioning = true)

  /** The most records one [[Block]] holds: its buffers double in size. */
  val MaxRecords: Int = 1 << 30

  /** Reads `it` into one sorted [[Block]]; `unique` drops repeats. */
  def sorted(it: Iterator[Product2[Long, Long]], unique: Boolean): Block = {
    var k = new Array[Long](1024); var v = new Array[Long](1024); var n = 0
    while (it.hasNext) {
      val p = it.next()
      if (n == k.length) {
        require(n < MaxRecords, s"a graph-loop partition holds more than $MaxRecords " +
          "records: one key group (a node's neighbourhood) is too large for one task")
        k = java.util.Arrays.copyOf(k, 2 * n); v = java.util.Arrays.copyOf(v, 2 * n)
      }
      k(n) = p._1; v(n) = p._2; n += 1
    }
    sort(k, v, n)
    if (unique && n > 0) {
      var w = 1; var i = 1
      while (i < n) {
        if (k(i) != k(w - 1) || v(i) != v(w - 1)) { k(w) = k(i); v(w) = v(i); w += 1 }
        i += 1
      }
      n = w
    }
    new Block(java.util.Arrays.copyOf(k, n), java.util.Arrays.copyOf(v, n))
  }

  /** [start, end) index ranges of the key groups of a block. */
  def groups(b: Block): Iterator[(Int, Int)] = Iterator.unfold(0) { s =>
    if (s >= b.size) None
    else {
      var e = s + 1
      while (e < b.size && b.k(e) == b.k(s)) e += 1
      Some(((s, e), e))
    }
  }

  /** Sorts records [0, n) of the parallel arrays by (k, v) in place:
    * quicksort (median of three, Hoare partition, so runs of equal keys
    * split evenly) with a heapsort fallback that bounds the worst case at
    * O(n log n), and insertion sort on short ranges.
    */
  def sort(k: Array[Long], v: Array[Long], n: Int): Unit =
    quick(k, v, 0, n - 1, 2 * (32 - Integer.numberOfLeadingZeros(math.max(n, 1))))

  @inline private def lt(k1: Long, v1: Long, k2: Long, v2: Long): Boolean =
    k1 < k2 || (k1 == k2 && v1 < v2)

  @inline private def less(k: Array[Long], v: Array[Long], i: Int, j: Int): Boolean =
    lt(k(i), v(i), k(j), v(j))

  @inline private def swap(k: Array[Long], v: Array[Long], i: Int, j: Int): Unit = {
    val tk = k(i); k(i) = k(j); k(j) = tk
    val tv = v(i); v(i) = v(j); v(j) = tv
  }

  private def quick(k: Array[Long], v: Array[Long], lo0: Int, hi0: Int, depth0: Int): Unit = {
    var lo = lo0; var hi = hi0; var depth = depth0
    while (hi - lo > 16) {
      if (depth == 0) { heap(k, v, lo, hi); return }
      depth -= 1
      val mid = (lo + hi) >>> 1
      if (less(k, v, mid, lo)) swap(k, v, mid, lo)
      if (less(k, v, hi, mid)) {
        swap(k, v, hi, mid)
        if (less(k, v, mid, lo)) swap(k, v, mid, lo)
      }
      val pk = k(mid); val pv = v(mid)
      var i = lo; var j = hi
      while (i <= j) {
        while (lt(k(i), v(i), pk, pv)) i += 1
        while (lt(pk, pv, k(j), v(j))) j -= 1
        if (i <= j) { swap(k, v, i, j); i += 1; j -= 1 }
      }
      // recurse into the smaller side, loop on the larger: O(log n) stack
      if (j - lo < hi - i) { quick(k, v, lo, j, depth); lo = i }
      else { quick(k, v, i, hi, depth); hi = j }
    }
    var i = lo + 1
    while (i <= hi) {
      var j = i
      while (j > lo && less(k, v, j, j - 1)) { swap(k, v, j, j - 1); j -= 1 }
      i += 1
    }
  }

  /** Heapsort of records [lo, hi]: [[sort]]'s worst-case fallback. */
  private[ops] def heap(k: Array[Long], v: Array[Long], lo: Int, hi: Int): Unit = {
    val n = hi - lo + 1
    def sift(root0: Int, end: Int): Unit = {
      var root = root0
      var child = 2 * root + 1
      while (child < end) {
        if (child + 1 < end && less(k, v, lo + child, lo + child + 1)) child += 1
        if (!less(k, v, lo + root, lo + child)) return
        swap(k, v, lo + root, lo + child)
        root = child; child = 2 * root + 1
      }
    }
    var s = n / 2 - 1
    while (s >= 0) { sift(s, n); s -= 1 }
    var end = n - 1
    while (end > 0) { swap(k, v, lo, lo + end); sift(0, end); end -= 1 }
  }
}
