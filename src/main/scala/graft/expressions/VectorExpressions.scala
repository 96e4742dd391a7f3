package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native dot product over two array<double> columns.
  *
  * The built-in route — `aggregate(zip_with(...))` — interprets its lambda
  * per element, and a dimension-unrolled `element_at` chain generates one
  * null-checked branch per term; both measured in the tens of µs per pair,
  * which dominates quadratic near-dup scans. This expression generates a
  * tight primitive loop (measured ~40ns per 64-dim pair).
  *
  * Summation is a sequential left fold from 0.0, matching the engine's
  * oracle convention, so results are bit-identical to the interpreted path.
  * Mismatched lengths yield NULL (matching `aggregate(zip_with(...))`) so
  * malformed embedding data surfaces as a visible null, not a plausible
  * partial sum.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // nullable even with non-null children: mismatched lengths produce NULL
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All random-hyperplane LSH bucket ids for one vector, every table at
  * once: output[t] has bit p set iff dot(vec, planes(t)(p)) >= 0.
  *
  * The composed-Column formulation (nTables × nPlanes DotProduct nodes,
  * each with a dim-length literal-array child) works but costs seconds of
  * analysis + codegen per query at 8×6×64 planes; here the plane matrix
  * rides along as a single flattened reference object and the generated
  * code is one three-level primitive loop.
  */
case class LshBuckets(child: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private val nTables = planes.length
  private val nPlanes = if (nTables == 0) 0 else planes(0).length
  private val dim = if (nPlanes == 0) 0 else planes(0)(0).length
  require(nPlanes <= 63, s"bucket bits are packed into a long; got $nPlanes planes")
  // layout [t][p][d] — one flat array referenced from generated code
  private lazy val flat: Array[Double] = planes.flatten.flatten

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires array<double> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_buckets"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bits = 0L
      var p = 0
      while (p < nPlanes) {
        var acc = 0.0
        val base = (t * nPlanes + p) * dim
        var i = 0
        while (i < n) { acc += v.getDouble(i) * flat(base + i); i += 1 }
        if (acc >= 0) bits |= 1L << p
        p += 1
      }
      out(t) = bits
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bits = ctx.freshName("bits")
      val base = ctx.freshName("base")
      s"""
         |long[] $out = new long[$nTables];
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bits = 0L;
         |  for (int $p = 0; $p < $nPlanes; $p++) {
         |    double $acc = 0.0;
         |    int $base = ($t * $nPlanes + $p) * $dim;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $v.getDouble($i) * $planesRef[$base + $i];
         |    }
         |    if ($acc >= 0.0) $bits |= 1L << $p;
         |  }
         |  $out[$t] = $bits;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A centroid set frozen on the driver for [[NearestCentroid]] and
  * [[NearestCentroids]]: the ids (of `idType`, INT or BIGINT), every
  * vector in one flat `double[]` (a null element reads as 0.0, as
  * [[DotProduct]] reads it), per-centroid offsets and lengths, and the
  * norms. Length -1 marks a null vector or a null norm: its cosine is
  * null.
  */
final class CentroidSet(val idType: DataType, val ids: Array[Long],
                        flat: Array[Double], offs: Array[Int],
                        lens: Array[Int], nrms: Array[Double])
    extends Serializable {
  require(idType == IntegerType || idType == LongType,
    s"centroid ids must be INT or BIGINT, got ${idType.simpleString}")

  def size: Int = ids.length

  // what the plan string shows for the reference object
  override def toString: String = s"centroids[$size]"

  /** `struct<c_id, cosine>`, the element of both expressions' output. */
  val scoreType: StructType = StructType(Seq(
    StructField("c_id", idType, nullable = false),
    StructField("cosine", DoubleType, nullable = true)))

  /** Fills `idx`/`cos`/`nul` with the best `idx.length` centroids for `v`
    * (null when the vector or its norm is null), best first, and returns
    * how many it filled. Each cosine is `dot(v, c_v) / (nrm * c_nrm)` as
    * Spark evaluates it: a left fold from 0.0, null on a length mismatch,
    * and a zero divisor gives null, or the divide-by-zero error under
    * ANSI. The order is cosine DESC (NaN largest, null last), then c_id
    * ASC, as Spark SQL's `ORDER BY cosine DESC, c_id` sorts.
    */
  def rank(v: ArrayData, nrm: Double, failOnError: Boolean,
           idx: Array[Int], cos: Array[Double], nul: Array[Boolean]): Int = {
    val k = idx.length
    // one copy per row; a null element reads as 0.0, as in DotProduct
    val xs = if (v == null) null else v.toDoubleArray()
    val n = if (v == null) -1 else xs.length
    var filled = 0
    var c = 0
    while (c < ids.length) {
      val div = nrm * nrms(c)
      val isNull = v == null || lens(c) != n || (!failOnError && div == 0.0)
      var x = 0.0
      if (!isNull) {
        if (div == 0.0) throw Bridge.divideByZeroError()
        var acc = 0.0
        val base = offs(c)
        var i = 0
        while (i < n) { acc += xs(i) * flat(base + i); i += 1 }
        x = acc / div
      }
      // insertion into the k best so far
      var p = filled
      while (p > 0 && better(x, isNull, ids(c), cos(p - 1), nul(p - 1), ids(idx(p - 1)))) p -= 1
      if (p < k) {
        var j = math.min(filled, k - 1)
        while (j > p) { idx(j) = idx(j - 1); cos(j) = cos(j - 1); nul(j) = nul(j - 1); j -= 1 }
        idx(p) = c; cos(p) = x; nul(p) = isNull
        if (filled < k) filled += 1
      }
      c += 1
    }
    filled
  }

  private def better(ca: Double, na: Boolean, ia: Long,
                     cb: Double, nb: Boolean, ib: Long): Boolean =
    if (na != nb) nb
    else {
      val cmp = if (na) 0 else SQLOrderingUtil.compareDoubles(ca, cb)
      cmp > 0 || (cmp == 0 && ia < ib)
    }

  /** One `struct<c_id, cosine>` row. */
  def score(c: Int, cosine: Double, isNull: Boolean): InternalRow = {
    val id: Any = if (idType == IntegerType) ids(c).toInt else ids(c)
    new GenericInternalRow(Array[Any](id, if (isNull) null else cosine))
  }
}

/** Shared shape of the centroid-scoring expressions: `vec` (array<double>)
  * and its norm in, scored against a [[CentroidSet]] carried as one
  * reference object (the [[LshBuckets]] pattern). Both the interpreted and
  * the generated path call `scoreRow`, so they cannot drift apart.
  */
abstract class CentroidScoring extends BinaryExpression {
  def cents: CentroidSet
  def failOnError: Boolean
  def scoreRow(v: ArrayData, nrm: Double): Any

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  // a null vector still scores (every cosine null), so not null-intolerant
  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    val nrm = right.eval(input)
    if (v == null || nrm == null) scoreRow(null, 0.0)
    else scoreRow(v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("centroidScoring", this)
    val v = left.genCode(ctx)
    val nrm = right.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      |${v.code}
      |${nrm.code}
      |boolean ${ev.isNull} = ${v.isNull} || ${nrm.isNull};
      |$javaType ${ev.value} = ($javaType) $self.scoreRow(
      |  ${ev.isNull} ? null : ${v.value}, ${ev.isNull} ? 0.0 : ${nrm.value});
      |${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }
}

/** The nearest centroid of one vector as `struct<c_id, cosine>` — the
  * inverted-list assignment as a map-only projection. Null only for an
  * empty centroid set; a null or malformed vector gets the smallest c_id
  * with a null cosine.
  */
case class NearestCentroid(left: Expression, right: Expression,
                           cents: CentroidSet, failOnError: Boolean)
    extends CentroidScoring {
  override def dataType: DataType = cents.scoreType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def scoreRow(v: ArrayData, nrm: Double): Any = {
    val idx = new Array[Int](1)
    val cos = new Array[Double](1)
    val nul = new Array[Boolean](1)
    if (cents.rank(v, nrm, failOnError, idx, cos, nul) == 0) null
    else cents.score(idx(0), cos(0), nul(0))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The `n` nearest centroids of one vector, best first, as
  * `array<struct<c_id, cosine>>` (shorter when the set has fewer; empty
  * for an empty set) — the probe step of IVF search.
  */
case class NearestCentroids(left: Expression, right: Expression,
                            cents: CentroidSet, n: Int, failOnError: Boolean)
    extends CentroidScoring {
  override def dataType: DataType = ArrayType(cents.scoreType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroids"

  override def scoreRow(v: ArrayData, nrm: Double): Any = {
    val k = math.max(0, math.min(n, cents.size))
    val idx = new Array[Int](k)
    val cos = new Array[Double](k)
    val nul = new Array[Boolean](k)
    val filled = cents.rank(v, nrm, failOnError, idx, cos, nul)
    new GenericArrayData(Array.tabulate[Any](filled)(i => cents.score(idx(i), cos(i), nul(i))))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column wrapper: dot product of two array<double> columns. */
  def vecDot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column wrapper: per-table LSH bucket ids (array<long>) of a vector. */
  def lshBuckets(v: Column, planes: Array[Array[Array[Double]]]): Column =
    Bridge.column(LshBuckets(Bridge.expression(v), planes))

  /** Column wrapper: the nearest centroid of `v` (norm `nrm`) in `cents`,
    * as `struct<c_id, cosine>`. A zero divisor follows the session's ANSI
    * setting, as the `/` it replaces does. */
  def nearestCentroid(v: Column, nrm: Column, cents: CentroidSet): Column =
    Bridge.column(NearestCentroid(Bridge.expression(v), Bridge.expression(nrm),
      cents, SQLConf.get.ansiEnabled))

  /** Column wrapper: the `n` nearest centroids of `v`, best first, as
    * `array<struct<c_id, cosine>>`. */
  def nearestCentroids(v: Column, nrm: Column, cents: CentroidSet, n: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(v), Bridge.expression(nrm),
      cents, n, SQLConf.get.ansiEnabled))
}
