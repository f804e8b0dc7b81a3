package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the hot paths of the similarity and
  * dedup operators — tier (b) of the extension ladder (custom Expression
  * with doGenCode beats a UDF, SURVEY §2/§4; reference analog: SQuOpt
  * compiles reified query trees to Scala, Compile.scala — here Spark's
  * whole-stage codegen plays that role and these expressions stay inside
  * it).
  *
  * DotProductD computes the SAME left-to-right sequential double fold as
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` — so
  * swapping it in changes no results, bit for bit — but without
  * materializing the zipped intermediate array per row.
  */
/** Shared float/double element handling for the vector fold expressions:
  * each side may be array<float> or array<double>; floats are cast to
  * double per element BEFORE the arithmetic, exactly like the HOF form.
  */
trait VectorFold { self: BinaryExpression =>

  protected def foldName: String

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$foldName expects array<float|double> on both sides, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def elem(x: ArrayData, fl: Boolean, i: Int): Double =
    if (fl) x.getFloat(i).toDouble else x.getDouble(i)

  protected def elemCode(arr: String, fl: Boolean, i: String): String =
    if (fl) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
}

case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression with VectorFold {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override protected def foldName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elem(x, lf, i) * elem(y, rf, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${elemCode(a, isFloat(left), i)} * ${elemCode(b, isFloat(right), i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance — the same left-to-right sequential double fold as
  * `aggregate(zip_with(a, b, (x,c) -> (double(x)-double(c))*(double(x)-double(c))), 0d, +)`,
  * bit-identical results, no intermediate array. The hot inner loop of
  * the k-means / PQ assignment passes.
  */
case class DistSqD(left: Expression, right: Expression)
    extends BinaryExpression with VectorFold {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_distsq"
  override protected def foldName: String = "vec_distsq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elem(x, lf, i) - elem(y, rf, i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${elemCode(a, isFloat(left), i)} - ${elemCode(b, isFloat(right), i)};
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DistSqD =
    copy(left = newLeft, right = newRight)
}

/** Count of the distinct-element intersection of two arrays —
  * `size(array_intersect(a, b))` without materializing the intersection
  * array: |distinct(a) ∩ distinct(b)|, a null element counting once when
  * both sides hold one. Both sides must have the same element type.
  *
  * Cross-row contract: the RIGHT argument's element set is kept across
  * rows — in codegen as mutable state of the generated class (one
  * instance per partition), interpreted in `@transient` fields of this
  * node (each task deserializes its own expression tree). The state is a
  * private copy of the last right-hand UnsafeArrayData plus the hash set
  * built from that copy. A row whose right side is byte-equal to the
  * copy (`UnsafeArrayData.equals`) only probes its own left elements;
  * any other row copies its right side and rebuilds the set from the
  * copy, never from row memory a later row may overwrite. A right side
  * that is not an UnsafeArrayData is never reused. So a constant right
  * side — the broadcast bench-gram array of Pipeline.broadcastDecontam —
  * costs O(|left|) hash probes plus one byte compare per row, while a
  * right side that changes every row (the dedup Jaccard verify) pays the
  * copy and the set rebuild each row, as the stateless form did.
  */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "intersect_size"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == r =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"intersect_size expects two arrays of one element type, got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  private def elementType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  @transient private lazy val elemAt =
    org.apache.spark.sql.catalyst.InternalRow.getAccessor(elementType, nullable = true)
  @transient private[this] var lastRight: UnsafeArrayData = _
  @transient private[this] var rightSet: java.util.HashSet[Any] = _

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (lastRight == null || !lastRight.equals(y)) {
      val src = y.copy()
      lastRight = src match {
        case u: UnsafeArrayData => u
        case _ => null
      }
      rightSet = new java.util.HashSet[Any]()
      var j = 0
      while (j < src.numElements()) { rightSet.add(elemAt(src, j)); j += 1 }
    }
    var cnt = 0
    var matched: java.util.HashSet[Any] = null
    var i = 0
    while (i < x.numElements()) {
      val v = elemAt(x, i)
      if (rightSet.contains(v)) {
        if (matched == null) matched = new java.util.HashSet[Any]()
        if (matched.add(v)) cnt += 1
      }
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val et = elementType
    val uad = classOf[UnsafeArrayData].getName
    val lastRight = ctx.addMutableState(uad, "isLastRight")
    val rightSet = ctx.addMutableState("java.util.HashSet", "isRightSet")
    // typed element read, boxed for the hash set; null elements read as null
    def elem(arr: String, i: String): String = {
      val v = CodeGenerator.getValue(arr, et, i)
      val boxed =
        if (CodeGenerator.isPrimitiveType(et)) s"${CodeGenerator.boxedType(et)}.valueOf($v)"
        else v
      s"($arr.isNullAt($i) ? null : (Object) $boxed)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val src = ctx.freshName("src")
      val matched = ctx.freshName("matched")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      val cnt = ctx.freshName("cnt")
      s"""
         |if ($lastRight == null || !$lastRight.equals($b)) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $src = $b.copy();
         |  $lastRight = $src instanceof $uad ? ($uad) $src : null;
         |  $rightSet = new java.util.HashSet();
         |  for (int $j = 0; $j < $src.numElements(); $j++) {
         |    $rightSet.add(${elem(src, j)});
         |  }
         |}
         |java.util.HashSet $matched = null;
         |int $cnt = 0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  Object $v = ${elem(a, i)};
         |  if ($rightSet.contains($v)) {
         |    if ($matched == null) $matched = new java.util.HashSet();
         |    if ($matched.add($v)) $cnt++;
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Argmin-cost centroid assignment in ONE codegen'd projection — the
  * k-means/IVF/PQ assignment kernel. `cents` is the packed per-partition
  * codebook: array<struct<cent_id: long, c_emb: array<double>, c_nrm:
  * double>>, sorted by cent_id. Returns struct<cent_id, cost> of the
  * minimum-cost centroid; ties keep the LOWEST cent_id (array order +
  * strict `<`), and per-centroid costs are the exact DotProductD /
  * DistSqD folds — so the result is bit-identical to the previous
  * `crossJoin(broadcast(cents)) → min(struct(cost, cent_id))` collapse,
  * but WITHOUT materializing |N|·|cells| intermediate rows or running an
  * aggregate at all: one input row → one output row, the whole codebook
  * scan inside whole-stage codegen. At 30× amplification this took the
  * kmeans assignment passes from the registry's slowest stage to a plain
  * linear scan.
  *
  * `l2` selects the cost: squared L2 (`acc += (e−c)²`) or negated cosine
  * (`(dot / (nrm·c_nrm)) · −1` — `nrm` is ignored for L2, pass 0.0).
  */
case class ArgminCost(emb: Expression, nrm: Expression, cents: Expression,
    l2: Boolean) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  import org.apache.spark.sql.types._

  override def first: Expression = emb
  override def second: Expression = nrm
  override def third: Expression = cents
  override def prettyName: String = if (l2) "vec_argmin_l2" else "vec_argmin_negcos"
  override def dataType: DataType = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("cost", DoubleType, nullable = false)))
  // empty codebook → null
  override def nullable: Boolean = true

  private def embIsFloat: Boolean =
    emb.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val embOk = emb.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 3 && fs(0).dataType == LongType &&
          (fs(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) && fs(2).dataType == DoubleType
      case _ => false
    }
    if (embOk && nrm.dataType == DoubleType && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_argmin expects (array<float|double>, double, array<struct<long, array<double>, double>>), got " +
          s"(${emb.dataType.simpleString}, ${nrm.dataType.simpleString}, ${cents.dataType.simpleString})")
  }

  override protected def nullSafeEval(e: Any, n: Any, c: Any): Any = {
    val x = e.asInstanceOf[ArrayData]
    val nrmV = n.asInstanceOf[Double]
    val cs = c.asInstanceOf[ArrayData]
    val m = cs.numElements()
    if (m == 0) return null
    val fl = embIsFloat
    var bestId = 0L
    var bestCost = 0.0
    var found = false
    var j = 0
    while (j < m) {
      val cr = cs.getStruct(j, 3)
      val cid = cr.getLong(0)
      val ce = cr.getArray(1)
      val cn = cr.getDouble(2)
      val len = math.min(x.numElements(), ce.numElements())
      var acc = 0.0
      var i = 0
      while (i < len) {
        val ev = if (fl) x.getFloat(i).toDouble else x.getDouble(i)
        if (l2) { val d = ev - ce.getDouble(i); acc += d * d }
        else acc += ev * ce.getDouble(i)
        i += 1
      }
      val cost = if (l2) acc else (acc / (nrmV * cn)) * -1.0
      if (!found || cost < bestCost ||
          (java.lang.Double.isNaN(bestCost) && !java.lang.Double.isNaN(cost))) {
        found = true; bestCost = cost; bestId = cid
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestCost))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, n, c) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val len = ctx.freshName("len")
      val cr = ctx.freshName("cr")
      val ce = ctx.freshName("ce")
      val cn = ctx.freshName("cn")
      val acc = ctx.freshName("acc")
      val cost = ctx.freshName("cost")
      val bestId = ctx.freshName("bestId")
      val bestCost = ctx.freshName("bestCost")
      val found = ctx.freshName("found")
      val elem = if (embIsFloat) s"((double) $e.getFloat($i))" else s"$e.getDouble($i)"
      val step =
        if (l2) s"double d = $elem - $ce.getDouble($i); $acc += d * d;"
        else s"$acc += $elem * $ce.getDouble($i);"
      val costExpr =
        if (l2) s"$acc" else s"($acc / ($n * $cn)) * -1.0"
      s"""
         |int $m = $c.numElements();
         |long $bestId = 0L; double $bestCost = 0.0; boolean $found = false;
         |for (int $j = 0; $j < $m; $j++) {
         |  org.apache.spark.sql.catalyst.InternalRow $cr = $c.getStruct($j, 3);
         |  org.apache.spark.sql.catalyst.util.ArrayData $ce = $cr.getArray(1);
         |  double $cn = $cr.getDouble(2);
         |  int $len = java.lang.Math.min($e.numElements(), $ce.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $len; $i++) { $step }
         |  double $cost = $costExpr;
         |  if (!$found || $cost < $bestCost ||
         |      (java.lang.Double.isNaN($bestCost) && !java.lang.Double.isNaN($cost))) {
         |    $found = true; $bestCost = $cost; $bestId = $cr.getLong(0);
         |  }
         |}
         |if (!$found) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{$bestId, $bestCost});
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ArgminCost =
    copy(emb = newFirst, nrm = newSecond, cents = newThird)
}

/** Sign-bit sketch against a set of hyperplanes in one codegen'd pass —
  * the random-hyperplane LSH bucket key. `planes` is
  * array<array<double>> (a one-row broadcast, built once); each plane's
  * dot with the vector is the same left-to-right double fold as the
  * `aggregate(sequence(...))` HOF it replaces (mixed float/double
  * handled per element, `>= 0.0` sign including -0.0 → '1'), so the
  * emitted '0'/'1' string is bit-identical — but the per-row cost drops
  * from planes·dims interpreted lambda calls to one fused loop.
  */
case class SignSketch(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = StringType
  override def prettyName: String = "vec_signs"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val embOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val planesOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (embOk && planesOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_signs expects (array<float|double>, array<array<double>>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def embIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(e: Any, p: Any): Any = {
    val x = e.asInstanceOf[ArrayData]
    val ps = p.asInstanceOf[ArrayData]
    val fl = embIsFloat
    val m = ps.numElements()
    val sb = new java.lang.StringBuilder(m)
    var j = 0
    while (j < m) {
      val w = ps.getArray(j)
      val n = math.min(x.numElements(), w.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val ev = if (fl) x.getFloat(i).toDouble else x.getDouble(i)
        acc += w.getDouble(i) * ev
        i += 1
      }
      sb.append(if (acc >= 0.0) '1' else '0')
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, p) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val w = ctx.freshName("w")
      val acc = ctx.freshName("acc")
      val sb = ctx.freshName("sb")
      val elem = if (embIsFloat) s"((double) $e.getFloat($i))" else s"$e.getDouble($i)"
      s"""
         |int $m = $p.numElements();
         |java.lang.StringBuilder $sb = new java.lang.StringBuilder($m);
         |for (int $j = 0; $j < $m; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $w = $p.getArray($j);
         |  int $n = java.lang.Math.min($e.numElements(), $w.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $acc += $w.getDouble($i) * $elem; }
         |  $sb.append($acc >= 0.0 ? '1' : '0');
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($sb.toString());
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignSketch =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points usable on any session (no registration
  * needed); `GraftExtensions` additionally registers them for SQL use.
  */
object vec {
  def vec_dot(a: Column, b: Column): Column =
    Shim.column(DotProductD(Shim.expression(a), Shim.expression(b)))

  def vec_distsq(a: Column, b: Column): Column =
    Shim.column(DistSqD(Shim.expression(a), Shim.expression(b)))

  def vec_argmin(emb: Column, nrm: Column, cents: Column, l2: Boolean): Column =
    Shim.column(ArgminCost(Shim.expression(emb), Shim.expression(nrm),
      Shim.expression(cents), l2))

  def vec_signs(emb: Column, planes: Column): Column =
    Shim.column(SignSketch(Shim.expression(emb), Shim.expression(planes)))

  def intersect_size(a: Column, b: Column): Column =
    Shim.column(IntersectSize(Shim.expression(a), Shim.expression(b)))
}
