package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native dot product over two array<double> columns.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * runs interpreted — higher-order functions get no codegen — and
  * allocates a zipped array per row; at 2M candidate pairs × 64 dims
  * that measured 148 s for the embedding near-dup operator. This
  * expression is a tight primitive loop over ArrayData inside
  * whole-stage codegen: same math, no allocation, ~30× faster.
  */
object VectorImpls {
  /** Shared by interpreted eval and generated code (static forwarder). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** One-pass int8 scalar-quantization census (Similarity.s05):
    * [floor(scale·1e6), Σ floor(err_i·1e6), max floor(err_i·1e6)]
    * with scale = max |v_i| (floored at 1e-30), err_i = |v_i −
    * floor(v_i·127/scale + 0.5)·scale/127|. Same IEEE formula the
    * DuckDB oracle computes; `Math.floor`, never a half-rule round.
    */
  def qcensus(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var scale = 1e-30
    var i = 0
    while (i < n) {
      val v = math.abs(a.getDouble(i)); if (v > scale) scale = v; i += 1
    }
    var sum = 0L
    var max = 0L
    i = 0
    while (i < n) {
      val v = a.getDouble(i)
      val err = math.abs(v - math.floor(v * 127 / scale + 0.5) * scale / 127)
      val m = math.floor(err * 1e6).toLong
      sum += m; if (m > max) max = m
      i += 1
    }
    new GenericArrayData(Array(math.floor(scale * 1e6).toLong, sum, max))
  }
}

case class ArrayDotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorImpls.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpls.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** int8 quantization census over one array<double> column → array<long>
  * [scale_micro, sum_qerr_micro, max_qerr_micro]. The composable form
  * (aggregate/transform lambdas around an aliased array_max scale) runs
  * interpreted AND gets the scale re-inlined into every element lambda
  * by projection collapse — measured ~30 s for 50k × 64-dim vectors at
  * the 10× gate, against well under a second for this tight loop.
  */
case class Int8QuantCensus(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "int8_qcensus"

  override def nullSafeEval(a: Any): Any =
    VectorImpls.qcensus(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorImpls.qcensus($a)")

  override protected def withNewChildInternal(newChild: Expression): Int8QuantCensus =
    copy(child = newChild)
}

/** A trained model's centroids, held on the driver and shipped to the
  * tasks inside the plan (the "centroids fit in RAM" assumption every
  * broadcast of them already makes). Centroids are grouped by a small
  * non-negative int key: 0 for a flat quantizer, the coarse cell for a
  * fine one, the subspace for a PQ codebook. A vector competes only
  * with its own key's centroids, as the keyed broadcast joins do.
  *
  * Both searches state, per row, what the assignment aggregates
  * compute with [[VectorImpls.dot]] and Spark's `round(…, 6)`:
  *  - [[nearestCosine]] is `max_by(cid, struct(round(e·c / (‖e‖·‖c‖),
  *    6), -cid))`: the highest rounded cosine, ties to the lowest id.
  *    A zero norm makes the cosine NULL (as non-ANSI division does),
  *    and NULL ranks below every value.
  *  - [[nearestL2]] is `min_by(cid, struct(round(v·v − 2.0·v·c + c·c,
  *    6), cid))`: the lowest rounded squared distance, ties to the
  *    lowest id.
  * Doubles order as Spark orders them (NaN highest, -0.0 = 0.0). Both
  * return -1 when the key has no centroids.
  */
final class Centroids private (
    ids: Array[Array[Int]], vecs: Array[Array[ArrayData]],
    norms: Array[Array[Double]], squares: Array[Array[Double]]) extends Serializable {
  import Centroids.{compare, round6}

  def nearestCosine(e: ArrayData, key: Int): Int = {
    if (key < 0 || key >= ids.length) return -1
    val (cid, cv, cn) = (ids(key), vecs(key), norms(key))
    val nrm = math.sqrt(VectorImpls.dot(e, e))
    var best = -1
    var bestC = 0.0
    var bestNull = true
    var j = 0
    while (j < cid.length) {
      val den = nrm * cn(j)
      val isNull = den == 0.0
      val c = if (isNull) 0.0 else round6(VectorImpls.dot(e, cv(j)) / den)
      val better =
        if (best < 0) true
        else if (isNull != bestNull) !isNull
        else {
          val cmp = if (isNull) 0 else compare(c, bestC)
          cmp > 0 || (cmp == 0 && cid(j) < best)
        }
      if (better) {
        best = cid(j); bestC = c; bestNull = isNull
      }
      j += 1
    }
    best
  }

  def nearestL2(v: ArrayData, key: Int): Int = {
    if (key < 0 || key >= ids.length) return -1
    val (cid, cv, cc) = (ids(key), vecs(key), squares(key))
    val vv = VectorImpls.dot(v, v)
    var best = -1
    var bestD = 0.0
    var j = 0
    while (j < cid.length) {
      val d2 = round6(vv - 2.0 * VectorImpls.dot(v, cv(j)) + cc(j))
      val cmp = compare(d2, bestD)
      if (best < 0 || cmp < 0 || (cmp == 0 && cid(j) < best)) { best = cid(j); bestD = d2 }
      j += 1
    }
    best
  }

  override def toString: String = s"Centroids(${ids.map(_.length).sum} in ${ids.length} keys)"
}

object Centroids {
  /** From (key, id, vector) triples; a NULL component reads as 0.0, as
    * it does in [[VectorImpls.dot]] over an unsafe array. */
  def apply(rows: Seq[(Int, Int, Seq[Double])]): Centroids = {
    val byKey = rows.groupBy(_._1)
    val keys = if (rows.isEmpty) 0 else byKey.keys.max + 1
    val groups = Array.tabulate(keys)(k => byKey.getOrElse(k, Seq.empty).toArray)
    val vecs = groups.map(_.map(r => UnsafeArrayData.fromPrimitiveArray(r._3.toArray): ArrayData))
    val squares = vecs.map(_.map(c => VectorImpls.dot(c, c)))
    new Centroids(groups.map(_.map(_._2)), vecs, squares.map(_.map(math.sqrt)), squares)
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the decimal string. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's double ordering: NaN above everything, -0.0 equal to 0.0. */
  private def compare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}

/** The nearest centroid's id for each row's vector, among its key's
  * centroids (NULL for a NULL vector or key, or a key with none). One
  * codegen'd call per row, so a Lloyd round assigns every vector inside
  * the map-side scan: no shuffle of the vectors by id, and no
  * per-candidate rows. */
case class NearestCentroid(vec: Expression, key: Expression,
    centroids: Centroids, cosine: Boolean) extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = key
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = if (cosine) "nearest_cosine" else "nearest_l2"

  override def nullSafeEval(v: Any, k: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val id = if (cosine) centroids.nearestCosine(a, k.asInstanceOf[Int])
      else centroids.nearestL2(a, k.asInstanceOf[Int])
    if (id < 0) null else id
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("centroids", centroids, classOf[Centroids].getName)
    val f = if (cosine) "nearestCosine" else "nearestL2"
    nullSafeCodeGen(ctx, ev, (v, k) =>
      s"""${ev.value} = $c.$f($v, $k);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(vec = newLeft, key = newRight)
}

/** Element-wise mean of an array<double> column, as one aggregate: the
  * per-component `avg` over `posexplode`, without the d× row explosion
  * and the `array_sort(collect_list(struct))` reassembly. Component i
  * is the sum of the non-NULL i-th elements over their count (NULL when
  * there are none); the sums add in double, as `avg`'s do. A NULL array
  * is skipped, and a group with no non-NULL array gives NULL. The child
  * must be array<double>; the SQL builder casts other arrays to it. */
case class ArrayMean(child: Expression, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayMean.Sums] with UnaryLike[Expression] {
  import ArrayMean.Sums
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "array_mean"

  override def createAggregationBuffer(): Sums = new Sums
  override def update(b: Sums, row: InternalRow): Sums = {
    val a = child.eval(row)
    if (a != null) b.add(a.asInstanceOf[ArrayData])
    b
  }
  override def merge(b: Sums, other: Sums): Sums = b.merge(other)
  override def eval(b: Sums): Any = b.mean

  override def serialize(b: Sums): Array[Byte] = {
    val n = b.sums.length
    val buf = ByteBuffer.allocate(5 + 16 * n).put((if (b.seen) 1 else 0).toByte).putInt(n)
    b.sums.foreach(buf.putDouble)
    b.counts.foreach(buf.putLong)
    buf.array()
  }
  override def deserialize(bytes: Array[Byte]): Sums = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new Sums
    b.seen = buf.get() == 1
    val n = buf.getInt()
    b.sums = Array.fill(n)(buf.getDouble())
    b.counts = Array.fill(n)(buf.getLong())
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ArrayMean = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ArrayMean = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ArrayMean =
    copy(child = newChild)
}

object ArrayMean {
  final class Sums {
    var seen = false
    var sums: Array[Double] = Array.emptyDoubleArray
    var counts: Array[Long] = Array.emptyLongArray

    private def grow(n: Int): Unit = if (n > sums.length) {
      sums = java.util.Arrays.copyOf(sums, n)
      counts = java.util.Arrays.copyOf(counts, n)
    }

    def add(a: ArrayData): Unit = {
      seen = true
      val n = a.numElements()
      grow(n)
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) { sums(i) += a.getDouble(i); counts(i) += 1 }
        i += 1
      }
    }

    def merge(o: Sums): Sums = {
      if (o.seen) {
        seen = true
        grow(o.sums.length)
        var i = 0
        while (i < o.sums.length) { sums(i) += o.sums(i); counts(i) += o.counts(i); i += 1 }
      }
      this
    }

    def mean: Any =
      if (!seen) null
      else new GenericArrayData(Array.tabulate[Any](sums.length)(i =>
        if (counts(i) == 0) null else sums(i) / counts(i)))
  }
}

object VectorFunctions {
  /** Dot product of two array<double> columns (native, codegen'd). */
  def array_dot(a: Column, b: Column): Column =
    GraftShims.column(ArrayDotProduct(GraftShims.expression(a), GraftShims.expression(b)))

  /** int8 quantization census of an array<double> column (native). */
  def int8_qcensus(a: Column): Column =
    GraftShims.column(Int8QuantCensus(GraftShims.expression(a)))

  /** Element-wise mean of an array<double> column (native aggregate). */
  def array_mean(a: Column): Column =
    GraftShims.column(ArrayMean(GraftShims.expression(a)).toAggregateExpression())

  /** Id of the highest-cosine centroid among `key`'s (native, in-row). */
  def nearest_cosine(v: Column, key: Column, c: Centroids): Column =
    GraftShims.column(NearestCentroid(GraftShims.expression(v), GraftShims.expression(key), c, cosine = true))

  /** Id of the lowest-L2 centroid among `key`'s (native, in-row). */
  def nearest_l2(v: Column, key: Column, c: Centroids): Column =
    GraftShims.column(NearestCentroid(GraftShims.expression(v), GraftShims.expression(key), c, cosine = false))
}
