package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One fused Lloyd's-iteration pass for
  * [[graft.similarity.KMeans.train]]: assign each vector to its
  * nearest centroid (the same [[ArgTopCells]] arithmetic the
  * standalone assignment uses) AND accumulate the per-(cluster, dim)
  * coordinate sums + per-cluster counts — no explode, no shuffle.
  *
  * The previous iteration shape exploded every vector into `dim`
  * (cluster, dim, x) rows, cast each to DECIMAL(28,12), and hash-
  * aggregated k·dim groups through an exchange; the data is tiny but
  * the per-iteration machinery (explode + cast + shuffle + schedule)
  * dominated training wall time. Here each task keeps the WHOLE
  * k·(dim+1) update state as two long arrays; map-side combine is
  * elementwise integer addition and one bounded state per partition
  * reaches the driver.
  *
  * Exactness (the q_kmeans_assign golden pins the trained centroids):
  * each coordinate is rounded exactly as `Cast(double → DECIMAL(_,12))`
  * rounds — shortest-repr (`BigDecimal.valueOf`) then HALF_UP, see
  * [[MomentSumAgg.unscaled12]] — and summed as an unscaled long.
  * Integer addition is associative and commutative, so the sums (and
  * with them the updated centroids) are bit-identical to the old
  * grouped decimal aggregate on any partitioning. Same range envelope
  * as MomentSumAgg (|x| < 9.2·10⁶, per-cell sums within ±2⁶³ unscaled;
  * violations throw).
  *
  * Output: struct(counts: array<long>[k], sums: array<long>[k·dim]
  * row-major, 12-dp unscaled).
  */
case class ClusterSumAgg(
    child: Expression,
    centroids: Vector[Vector[Double]],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ClusterSumAgg.State] {

  require(centroids.nonEmpty, "need at least one centroid")
  private val k = centroids.length
  private val dim = centroids.head.length

  @transient private lazy val step = new ClusterSumAgg.Step(centroids)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("counts", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("sums", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cluster_sum_agg requires array<double>, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): ClusterSumAgg.State = step.zero()

  override def update(
      buf: ClusterSumAgg.State, input: InternalRow): ClusterSumAgg.State = {
    child.eval(input) match {
      case null => buf
      case a: ArrayData =>
        // wrong-dim rows are the caller's filter contract (train
        // filters size === dim before aggregating)
        if (a.numElements() != dim) buf
        else step.add(buf, a, ClusterSumAgg.rounded(a))
    }
  }

  override def merge(
      buf: ClusterSumAgg.State, other: ClusterSumAgg.State): ClusterSumAgg.State = {
    var i = 0
    while (i < buf.counts.length) {
      buf.counts(i) = Math.addExact(buf.counts(i), other.counts(i)); i += 1
    }
    i = 0
    while (i < buf.sums.length) {
      buf.sums(i) = Math.addExact(buf.sums(i), other.sums(i)); i += 1
    }
    buf
  }

  override def eval(buf: ClusterSumAgg.State): Any =
    InternalRow(
      new GenericArrayData(buf.counts), new GenericArrayData(buf.sums))

  override def serialize(buf: ClusterSumAgg.State): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * (buf.counts.length + buf.sums.length))
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.counts.foreach(bb.putLong)
    buf.sums.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ClusterSumAgg.State = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val counts = new Array[Long](k)
    val sums = new Array[Long](k * dim)
    var i = 0
    while (i < k) { counts(i) = bb.getLong; i += 1 }
    i = 0
    while (i < k * dim) { sums(i) = bb.getLong; i += 1 }
    new ClusterSumAgg.State(counts, sums)
  }

  override def withNewMutableAggBufferOffset(o: Int): ClusterSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ClusterSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ClusterSumAgg = copy(child = c.head)
}

object ClusterSumAgg {
  final class State(val counts: Array[Long], val sums: Array[Long])

  /** A `dim`-vector's coordinates as 12-dp unscaled longs
    * ([[MomentSumAgg.unscaled12]]). It does not depend on the
    * centroids, so a caller iterating over the same vectors can round
    * each one once.
    */
  def rounded(a: ArrayData): Array[Long] = {
    val u = new Array[Long](a.numElements())
    var j = 0
    while (j < u.length) { u(j) = MomentSumAgg.unscaled12(a.getDouble(j)); j += 1 }
    u
  }

  /** One Lloyd's pass's assign-and-accumulate step against fixed
    * centroids: the aggregate's per-task `update` and
    * [[graft.similarity.KMeans.train]]'s driver loop both run it, so
    * the two paths cannot drift apart.
    */
  final class Step(centroids: Vector[Vector[Double]]) {
    private val k = centroids.length
    private val dim = centroids.head.length

    private val flat: Array[Double] = {
      val a = new Array[Double](k * dim)
      var i = 0
      while (i < k) {
        var j = 0
        while (j < dim) { a(i * dim + j) = centroids(i)(j); j += 1 }
        i += 1
      }
      a
    }

    // the −½|c|² bias of KMeans.clusterOf's augmented form (L2 argmin
    // as dot-product argmax); added AFTER the coordinate fold, exactly
    // where ArgTopCells' sequential dot over [v, 1]·[c, bias] lands it,
    // so the accumulated double is bit-identical to the expression path
    private val bias: Array[Double] =
      centroids.map(c => -0.5 * c.map(x => x * x).sum).toArray

    def zero(): State = new State(new Array[Long](k), new Array[Long](k * dim))

    private def assignOf(a: ArrayData): Int = {
      var best = -1
      var bestD = Double.NegativeInfinity
      var i = 0
      while (i < k) {
        var d = 0.0
        var j = 0
        val off = i * dim
        while (j < dim) { d += a.getDouble(j) * flat(off + j); j += 1 }
        d += bias(i)
        // ties to the larger index, NaN above all — the ArgTopCells rule
        if (best < 0 || java.lang.Double.compare(d, bestD) >= 0) {
          best = i; bestD = d
        }
        i += 1
      }
      best
    }

    /** Adds the `dim`-vector `a`, with `u` = [[rounded]]`(a)`, to its
      * nearest centroid's cell.
      */
    def add(buf: State, a: ArrayData, u: Array[Long]): State = {
      val c = assignOf(a)
      val off = c * dim
      var j = 0
      while (j < dim) {
        buf.sums(off + j) = Math.addExact(buf.sums(off + j), u(j))
        j += 1
      }
      buf.counts(c) += 1
      buf
    }
  }
}
