package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructType}

/** Native codegen expressions for the IVF assignment argmax — the
  * 100 TB embedding-index hot loop (one evaluation per vector per index
  * build).
  *
  * Why custom Expressions (same justification as FloatVectorDot /
  * VectorLshSignature, preference order (b)): the map-only assignment
  * form is `array_max(transform(cents, c -> struct(dot(...), -id)))` —
  * higher-order functions are CodegenFallback, so every vector pays
  * nlist × dim interpreted lambda dispatches plus nlist struct
  * allocations. Measured on 2M cached vectors (PERF.md §ANN): the
  * HOF argmax runs 16.1 s where the r5 crossJoin+window shape ran 3.4 s
  * — map-only but 4.7× the CPU. These expressions keep the map-only
  * plan shape (no ×nlist fan-out, no Exchange on vec_id) AND run the
  * whole argmax as one tight primitive loop inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the HOF forms on well-formed input
  * (ExtensionSpec pins row-for-row equality on the real embeddings
  * table): highest score wins, ties to the LOWER centroid id — exactly
  * `array_max` over (score, -id). Degenerate inputs (a vector with null
  * elements, every centroid malformed) yield NULL here; the HOF struct
  * ordering would instead surface an arbitrary-but-deterministic id.
  * The embeddings contract (dense non-null fixed-dim arrays,
  * TESTDATA.md) excludes those inputs; the specs document the boundary.
  *
  * Lives in an org.apache.spark.sql subpackage because Expression SPI
  * types are private[sql].
  */

/** argmax centroid by e9-quantized cosine: `vec` is Array[Float], `cents`
  * is the packed one-row broadcast array of structs
  * (centroid_id: Long, centroid: Array[Float], cnorm: Double). The
  * vector's own norm is recomputed per row from the same in-order double
  * fold the native dot uses (bit-equal to hoisting norm("embedding"));
  * per centroid the score is floor(dot/enorm/cnorm · 1e9 + 0.5) cast to
  * long with Spark's non-ANSI double→long clamp semantics. */
case class VectorArgmaxE9Cosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_argmax_cos_e9"

  // The eval/codegen bodies read through positional unsafe accessors
  // (getFloat / getStruct(_, 3) / getLong / getDouble), so a mistyped
  // input (array<double> embedding, reordered struct fields) would read
  // garbage silently — fail at analysis instead.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(st: StructType, _))
          if st.length == 3 && st(0).dataType == LongType &&
            (st(1).dataType match {
              case ArrayType(FloatType, _) => true; case _ => false
            }) && st(2).dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float>, array<struct<id:bigint," +
            s"centroid:array<float>,cnorm:double>>), got " +
            s"(${l.simpleString(10)}, ${r.simpleString(10)})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    var ok = true
    var i = 0
    while (ok && i < dim) { ok = !vec.isNullAt(i); i += 1 }
    if (!ok) return null
    var se = 0.0
    i = 0
    while (i < dim) {
      val v = vec.getFloat(i).toDouble
      se += v * v
      i += 1
    }
    val enorm = math.sqrt(se)
    var found = false
    var bestSim = 0L
    var bestId = 0L
    var j = 0
    val m = cents.numElements()
    while (j < m) {
      if (!cents.isNullAt(j)) {
        val c = cents.getStruct(j, 3)
        if (!c.isNullAt(0) && !c.isNullAt(1) && !c.isNullAt(2)) {
          val carr = c.getArray(1)
          var cok = carr.numElements() == dim
          var k = 0
          while (cok && k < dim) { cok = !carr.isNullAt(k); k += 1 }
          if (cok) {
            var dot = 0.0
            k = 0
            while (k < dim) {
              dot += vec.getFloat(k).toDouble * carr.getFloat(k).toDouble
              k += 1
            }
            val sim = math.floor(dot / enorm / c.getDouble(2) * 1e9 + 0.5).toLong
            val id = c.getLong(0)
            if (!found || sim > bestSim || (sim == bestSim && id < bestId)) {
              found = true; bestSim = sim; bestId = id
            }
          }
        }
      }
      j += 1
    }
    if (found) bestId else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim"); val i = ctx.freshName("i")
      val ok = ctx.freshName("ok"); val se = ctx.freshName("se")
      val v = ctx.freshName("v"); val enorm = ctx.freshName("enorm")
      val found = ctx.freshName("found"); val bestSim = ctx.freshName("bestSim")
      val bestId = ctx.freshName("bestId"); val j = ctx.freshName("j")
      val m = ctx.freshName("m"); val c = ctx.freshName("c")
      val carr = ctx.freshName("carr"); val cok = ctx.freshName("cok")
      val k = ctx.freshName("k"); val dot = ctx.freshName("dot")
      val sim = ctx.freshName("sim"); val id = ctx.freshName("id")
      s"""
         |int $dim = $a.numElements();
         |boolean $ok = true;
         |for (int $i = 0; $ok && $i < $dim; $i++) { $ok = !$a.isNullAt($i); }
         |boolean $found = false;
         |long $bestSim = 0L; long $bestId = 0L;
         |if ($ok) {
         |  double $se = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    double $v = (double) $a.getFloat($i);
         |    $se += $v * $v;
         |  }
         |  double $enorm = java.lang.Math.sqrt($se);
         |  int $m = $b.numElements();
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($b.isNullAt($j)) continue;
         |    org.apache.spark.sql.catalyst.InternalRow $c = $b.getStruct($j, 3);
         |    if ($c.isNullAt(0) || $c.isNullAt(1) || $c.isNullAt(2)) continue;
         |    org.apache.spark.sql.catalyst.util.ArrayData $carr = $c.getArray(1);
         |    boolean $cok = $carr.numElements() == $dim;
         |    for (int $k = 0; $cok && $k < $dim; $k++) { $cok = !$carr.isNullAt($k); }
         |    if (!$cok) continue;
         |    double $dot = 0.0;
         |    for (int $k = 0; $k < $dim; $k++) {
         |      $dot += ((double) $a.getFloat($k)) * ((double) $carr.getFloat($k));
         |    }
         |    long $sim = (long) java.lang.Math.floor($dot / $enorm / $c.getDouble(2) * 1e9 + 0.5);
         |    long $id = $c.getLong(0);
         |    if (!$found || $sim > $bestSim || ($sim == $bestSim && $id < $bestId)) {
         |      $found = true; $bestSim = $sim; $bestId = $id;
         |    }
         |  }
         |}
         |if ($found) { ${ev.value} = $bestId; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorArgmaxE9Cosine =
    copy(left = newLeft, right = newRight)
}

/** argmax centroid by exact integer dot: `vec` is the e6-quantized
  * Array[Long], `cents` the packed broadcast array of structs
  * (centroid_id: Long, ce6: Array[Long]). All-long arithmetic — the
  * k-means training assignment, engine-exact by construction. */
case class VectorArgmaxDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_argmax_dot_i64"

  // Same rationale as VectorArgmaxE9Cosine: positional unsafe accessors
  // demand the exact (array<bigint>, array<struct<id,ce6>>) shape.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(st: StructType, _))
          if st.length == 2 && st(0).dataType == LongType &&
            (st(1).dataType match {
              case ArrayType(LongType, _) => true; case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<bigint>, array<struct<id:bigint," +
            s"ce6:array<bigint>>>), got " +
            s"(${l.simpleString(10)}, ${r.simpleString(10)})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    var ok = true
    var i = 0
    while (ok && i < dim) { ok = !vec.isNullAt(i); i += 1 }
    if (!ok) return null
    var found = false
    var bestDot = 0L
    var bestId = 0L
    var j = 0
    val m = cents.numElements()
    while (j < m) {
      if (!cents.isNullAt(j)) {
        val c = cents.getStruct(j, 2)
        if (!c.isNullAt(0) && !c.isNullAt(1)) {
          val carr = c.getArray(1)
          var cok = carr.numElements() == dim
          var k = 0
          while (cok && k < dim) { cok = !carr.isNullAt(k); k += 1 }
          if (cok) {
            var dot = 0L
            k = 0
            while (k < dim) {
              dot += vec.getLong(k) * carr.getLong(k)
              k += 1
            }
            val id = c.getLong(0)
            if (!found || dot > bestDot || (dot == bestDot && id < bestId)) {
              found = true; bestDot = dot; bestId = id
            }
          }
        }
      }
      j += 1
    }
    if (found) bestId else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim"); val i = ctx.freshName("i")
      val ok = ctx.freshName("ok"); val found = ctx.freshName("found")
      val bestDot = ctx.freshName("bestDot"); val bestId = ctx.freshName("bestId")
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val c = ctx.freshName("c"); val carr = ctx.freshName("carr")
      val cok = ctx.freshName("cok"); val k = ctx.freshName("k")
      val dot = ctx.freshName("dot"); val id = ctx.freshName("id")
      s"""
         |int $dim = $a.numElements();
         |boolean $ok = true;
         |for (int $i = 0; $ok && $i < $dim; $i++) { $ok = !$a.isNullAt($i); }
         |boolean $found = false;
         |long $bestDot = 0L; long $bestId = 0L;
         |if ($ok) {
         |  int $m = $b.numElements();
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($b.isNullAt($j)) continue;
         |    org.apache.spark.sql.catalyst.InternalRow $c = $b.getStruct($j, 2);
         |    if ($c.isNullAt(0) || $c.isNullAt(1)) continue;
         |    org.apache.spark.sql.catalyst.util.ArrayData $carr = $c.getArray(1);
         |    boolean $cok = $carr.numElements() == $dim;
         |    for (int $k = 0; $cok && $k < $dim; $k++) { $cok = !$carr.isNullAt($k); }
         |    if (!$cok) continue;
         |    long $dot = 0L;
         |    for (int $k = 0; $k < $dim; $k++) {
         |      $dot += $a.getLong($k) * $carr.getLong($k);
         |    }
         |    long $id = $c.getLong(0);
         |    if (!$found || $dot > $bestDot || ($dot == $bestDot && $id < $bestId)) {
         |      $found = true; $bestDot = $dot; $bestId = $id;
         |    }
         |  }
         |}
         |if ($found) { ${ev.value} = $bestId; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorArgmaxDotLong =
    copy(left = newLeft, right = newRight)
}
