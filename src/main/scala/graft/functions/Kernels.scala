package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hot-loop kernels as native Catalyst expressions.
  *
  * Spark's higher-order array functions (`transform`, `zip_with`,
  * `aggregate`) are evaluated interpreted — per-element closure calls
  * and allocations — which makes them the bottleneck of shingling and
  * vector math at scale. These expressions do the same work as a single
  * tight JVM loop per row (no per-element boxing), which profiled ~5-10x
  * faster on the dedup/similarity paths. They are deterministic, null
  * tolerant, and semantically identical to the composed-builtin forms
  * (the DuckDB oracle replays both bit-for-bit).
  */

/** `word_shingles(tokens, k)`: distinct, order-preserving k-token
  * shingles joined by single spaces (w-shingling; Broder '97). Arrays
  * shorter than k yield an empty array. */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects array<string>, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n - k + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      var appended = false
      while (j < k) {
        // null tokens are skipped, matching concat_ws semantics
        if (!arr.isNullAt(i + j)) {
          if (appended) sb.append(' ')
          sb.append(arr.getUTF8String(i + j).toString)
          appended = true
        }
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** `fixed_point_dot(a, b)`: dot product of two float/double arrays with
  * each term quantized to 1e-9 (`floor(x*y*1e9 + 0.5)`) and summed as
  * exact longs — an order-independent, engine-portable reduction (the
  * basis of all similarity math here; see graft.llm.Similarity).
  * Participates in whole-stage codegen (a real doGenCode, not
  * CodegenFallback): the dot is the innermost loop of every
  * similarity/clustering operator, so falling out of codegen here
  * would break the surrounding stage into interpreted islands. */
case class FixedPointDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fixed_point_dot expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  private def toD(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
  override def nullable: Boolean = true
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // length mismatch -> null, matching aggregate(zip_with(...)) where
    // the padded null term nullifies the sum
    if (a.numElements() != b.numElements()) return null
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      // a null element -> null result, matching aggregate(zip_with(...))
      // where one null term nullifies the whole sum
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += math.floor(toD(a, lf, i) * toD(b, rf, i) * 1e9 + 0.5).toLong
      i += 1
    }
    acc
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    def get(v: String, isFloat: Boolean, i: String) =
      if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      // same contract as nullSafeEval: length mismatch or a null
      // element yields null; otherwise the exact long sum
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += (long) java.lang.Math.floor(
         |      ${get(a, lf, i)} * ${get(b, rf, i)} * 1.0E9 + 0.5);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FixedPointDot =
    copy(left = l, right = r)
  override def prettyName: String = "fixed_point_dot"
}

/** `fixed_point_dot_cent(vec, cent)`: Σᵢ floor(vecᵢ · centᵢ + 0.5)
  * summed as exact longs — the dot of a float/double vector against an
  * ALREADY-QUANTIZED 1e-9 fixed-point centroid (array<long>, the
  * model currency of graft.llm.Clustering). Bit-identical to the
  * interpreted `aggregate(zip_with(vec, cent, (x, c) ->
  * floor(x·c + 0.5)))` it replaces on the Lloyd hot path, where that
  * form ran once per (vector, centroid) pair per round — the same
  * interpreted-higher-order bottleneck [[FixedPointDot]] removed from
  * the similarity operators. Null semantics match zip_with: length
  * mismatch or any null element ⇒ null. */
case class FixedPointDotCent(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  private def vecOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (vecOk(left.dataType) && (right.dataType match {
      case ArrayType(LongType, _) => true; case _ => false
    }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fixed_point_dot_cent expects (array<float|double>, array<long>), " +
        s"got ${left.dataType}, ${right.dataType}")
  override def nullable: Boolean = true
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      acc += math.floor(x * b.getLong(i).toDouble + 0.5).toLong
      i += 1
    }
    acc
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val getX = if (lf) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += (long) java.lang.Math.floor(
         |      ((double) $a.$getX($i)) * ((double) $b.getLong($i)) + 0.5);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FixedPointDotCent =
    copy(left = l, right = r)
  override def prettyName: String = "fixed_point_dot_cent"
}

/** `fixed_point_l2(a, b)`: Σᵢ floor((aᵢ−bᵢ)²·1e9 + 0.5) — the exact
  * fixed-point squared-L2 distance, one codegen'd per-row loop.
  *
  * Replaces `aggregate(zip_with(...))` on the pairwise-distance hot
  * path (q_lof / q_knn_eval / q_silhouette evaluate it per candidate
  * PAIR — the interpreted higher-order form allocates an
  * intermediate array per pair and dominated both queries' runtime).
  * Identical null semantics to [[FixedPointDot]]: length mismatch or
  * any null element ⇒ null, matching the zip_with formulation and
  * the DuckDB `list_sum(list_transform(...))` oracle bit-for-bit. */
case class FixedPointL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fixed_point_l2 expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  private def toD(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
  override def nullable: Boolean = true
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = toD(a, lf, i) - toD(b, rf, i)
      acc += math.floor(d * d * 1e9 + 0.5).toLong
      i += 1
    }
    acc
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    def get(v: String, isFloat: Boolean, i: String) =
      if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $d = ${get(a, lf, i)} - ${get(b, rf, i)};
         |    $acc += (long) java.lang.Math.floor($d * $d * 1.0E9 + 0.5);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FixedPointL2 =
    copy(left = l, right = r)
  override def prettyName: String = "fixed_point_l2"
}

/** `simhash32(tokens)`: 32-bit frequency-weighted SimHash of a token
  * array in ONE per-row pass (Charikar '02). Per token: h = first 32
  * bits of md5(token); each bit j votes +1/-1 on sign bit j of h; the
  * result sets bit j where the vote sum is positive.
  *
  * Replaces the explode-based formulation (one row per token × 32 bit
  * rows through a shuffle — a 32× row multiplier on the tokenized
  * corpus); this kernel shuffles NOTHING. Bit-identical to the DuckDB
  * oracle (md5 hex prefix parsed base-16, `v > 0` tie rule). Null
  * tokens are skipped; an all-null or empty array yields null (the
  * exploded form emits no row for such docs). */
case class SimHash32(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash32 expects array<string>, got $other")
  }
  // one digest per thread, reset per token: the JCA provider lookup in
  // getInstance is per-row overhead in a kernel whose whole point is
  // that the scan is the only cost (ThreadLocal because a plan's
  // expression instance may be evaluated from multiple local threads)
  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](32)
    val md = mdLocal.get()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        md.reset()
        val digest = md.digest(arr.getUTF8String(i).getBytes)
        // first 8 hex chars == first 4 digest bytes, big-endian unsigned
        val h = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
          ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        var j = 0
        while (j < 32) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var out = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
  override def prettyName: String = "simhash32"
}

/** `quantize_int8(vec)`: symmetric int8 quantization of a float/double
  * array in ONE per-row pass → struct(scale, codes, abs_err_fp).
  * scale = max|x|/127 (0 for a zero vector); codes = floor(x/scale+0.5)
  * (round-half-up — pure IEEE, engine-portable); abs_err_fp = total
  * |x - code*scale| quantized at 1e-9, summed exactly. Semantically
  * identical to the composed transform/zip_with/aggregate form (parity-
  * tested) but a single tight loop instead of interpreted per-element
  * closures. Null for null input or any null element. */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("abs_err_fp", LongType, nullable = false)))
  override def nullable: Boolean = true
  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (elemOk(child.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"quantize_int8 expects array<float|double>, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = arr.numElements()
    def at(i: Int): Double = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var maxAbs = 0.0
    var sawNaN = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val a = math.abs(at(i))
      if (java.lang.Double.isNaN(a)) sawNaN = true
      else if (a > maxAbs) maxAbs = a
      i += 1
    }
    // NaN propagation matches the composed Spark form: array_max yields
    // NaN and Spark's `NaN > 0` is TRUE, so scale = NaN; all codes then
    // collapse to 0 and every error term is NaN -> cast 0 (both here
    // via JVM float semantics and in the composed expressions)
    val scale =
      if (sawNaN) Double.NaN
      else if (maxAbs > 0) maxAbs / 127.0
      else 0.0
    val codes = new Array[Any](n)
    var err = 0L
    i = 0
    while (i < n) {
      val v = at(i)
      val c = if (scale > 0) math.floor(v / scale + 0.5).toInt else 0
      codes(i) = c
      err += math.floor(math.abs(v - c * scale) * 1e9 + 0.5).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, new GenericArrayData(codes), err))
  }
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
  override def prettyName: String = "quantize_int8"
}

/** `zorder2(x, y)`: 32-bit Morton (Z-order) interleave of the low 16
  * bits of two integer columns — bit i of x lands at result bit 2i, bit
  * i of y at 2i+1. Z-values linearize a 2-D key space so that rows close
  * in (x, y) are close in zval; range-partitioning / sorting by zval is
  * the standard multi-dimensional data-layout trick (cf. DB2/Vertica
  * Z-ordering, Delta OPTIMIZE ZORDER BY): files then carry tight min/max
  * ranges on BOTH columns and parquet row-group pruning works for
  * predicates on either dimension. The kernel is one per-row loop; the
  * equivalent composed form is 32 shift/mask/or terms. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  private def intOk(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (intOk(left.dataType) && intOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zorder2 expects integral inputs, got ${left.dataType}, ${right.dataType}")
  private def toLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = toLong(l) & 0xffffL
    val y = toLong(r) & 0xffffL
    var out = 0L
    var i = 0
    while (i < 16) {
      out |= ((x >>> i) & 1L) << (2 * i)
      out |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
  override def prettyName: String = "zorder2"
}

/** `jaro_winkler_ppm(a, b)`: Jaro-Winkler similarity as exact integer
  * ppm = floor(jw·1e6 + 0.5), one per-row two-string loop.
  *
  * Classic semantics (Winkler '90, as shipped by DuckDB's
  * `jaro_winkler_similarity`, verified empirically): match window
  * max(|a|,|b|)/2 − 1; transpositions = half the matched-but-misplaced
  * count; prefix boost p=0.1 over at most 4 leading chars, applied only
  * when jaro > 0.7; either string empty ⇒ 0 (DuckDB convention, BOTH
  * empty included). Spark has no jaro function at all — composing this
  * from builtins would take a cross join per character; here it is one
  * codegen-fallback kernel whose cost is the row scan. The ppm grain
  * absorbs cross-engine double rounding (values are rationals with
  * denominator 30·|a|·|b|·m — never within 1e-10 of a half-ppm
  * boundary for realistic string lengths). */
case class JaroWinklerPpm(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler_ppm expects (string, string), got ${left.dataType}, ${right.dataType}")
  override def nullSafeEval(l: Any, r: Any): Any = {
    val s1 = l.asInstanceOf[UTF8String].toString
    val s2 = r.asInstanceOf[UTF8String].toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0L
    val md = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(l2, i + md + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s2.charAt(j) == s1.charAt(i)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0L
    var t = 0
    var j = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (s1.charAt(i) != s2.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    var jw = jaro
    if (jaro > 0.7) {
      var p = 0
      val lim = math.min(4, math.min(l1, l2))
      while (p < lim && s1.charAt(p) == s2.charAt(p)) p += 1
      jw = jaro + p * 0.1 * (1.0 - jaro)
    }
    math.floor(jw * 1e6 + 0.5).toLong
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerPpm =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler_ppm"
}

/** `nfc_normalize(s)`: Unicode NFC normalization (UAX #15 canonical
  * composition) — combining sequences ("e" + U+0301) compose to their
  * precomposed forms ("é"). Spark has no normalization builtin at all,
  * yet corpus dedup REQUIRES it: the same text in NFC and NFD hashes
  * to different md5 digests, silently splitting exact-duplicate
  * clusters. One JDK Normalizer call per row; DuckDB's independent
  * `nfc_normalize` (utf8proc) is the oracle. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** `strip_accents(s)`: remove combining diacritical marks — NFD
  * decomposition, then drop NON_SPACING_MARK code points ("café côté"
  * → "cafe cote"; "ß" is untouched — not an accent). The text-
  * canonicalization step before fuzzy matching / fingerprinting in
  * any multilingual corpus. Matches DuckDB's `strip_accents`
  * (utf8proc) on Latin-script text — two independent implementations
  * of the same UAX #15 + Mn-filter pipeline. */
case class StripAccents(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"strip_accents expects string, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
  override def prettyName: String = "strip_accents"
}

/** `winnow_fingerprints(text; k, w)` — winnowing document fingerprints
  * (Schleimer–Wilkerson–Aiken, "Winnowing: Local Algorithms for
  * Document Fingerprinting", SIGMOD 2003 — the MOSS algorithm): a
  * ROLLING Rabin–Karp hash over every k-character gram (polynomial
  * base 257 over char codes, mod 2^31−1 — small enough that the
  * oracle replays the k explicit terms in SQL), then within each
  * window of w consecutive gram hashes the MINIMUM is selected
  * (RIGHTMOST position on ties); the distinct selected
  * (position, hash) pairs are the fingerprint. Guarantee: documents
  * sharing any substring of length ≥ w+k−1 share at least one
  * fingerprint hash — the locality property plain MinHash lacks.
  * Returns array<struct<pos int, hash long>> in ascending pos; texts
  * shorter than k+w−1 yield an empty array. The per-gram hash rolls
  * in O(1) ((h − c_out·B^(k−1))·B + c_in mod M), so a document costs
  * O(chars), not O(chars·k). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2 && w >= 1, s"need k >= 2, w >= 1, got k=$k w=$w")
  private val M = 2147483647L // 2^31 − 1
  private val B = 257L
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("hash", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects string input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    // roll over Unicode CODE POINTS, not UTF-16 code units: the DuckDB
    // oracle hashes per-character code points (ascii(substr(...))), and
    // the two only agree if supplementary characters count as ONE gram
    // element here too. Positions are code-point indices for the same
    // reason (SQL substr is character-addressed).
    val cp = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cp.length
    val nGrams = n - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    // B^(k−1) mod M, for the rolling eviction term
    var bk1 = 1L
    var i = 0
    while (i < k - 1) { bk1 = bk1 * B % M; i += 1 }
    val h = new Array[Long](nGrams)
    var cur = 0L
    i = 0
    while (i < k) { cur = (cur * B + cp(i)) % M; i += 1 }
    h(0) = cur
    var p = 1
    while (p < nGrams) {
      cur = (((cur - cp(p - 1).toLong * bk1) % M + M) % M * B + cp(p + k - 1)) % M
      h(p) = cur
      p += 1
    }
    // winnow: min of each w-window, rightmost on ties (<= when the new
    // rightmost element arrives), recorded when the argmin CHANGES —
    // the recorded set equals the distinct per-window argmins
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var minIdx = -1
    var st = 0
    while (st + w <= nGrams) {
      if (minIdx < st) {
        // the old min slid out: rescan this window, rightmost tie
        minIdx = st
        var j = st + 1
        while (j < st + w) { if (h(j) <= h(minIdx)) minIdx = j; j += 1 }
        out += org.apache.spark.sql.catalyst.InternalRow(minIdx, h(minIdx))
      } else if (h(st + w - 1) <= h(minIdx)) {
        minIdx = st + w - 1
        out += org.apache.spark.sql.catalyst.InternalRow(minIdx, h(minIdx))
      }
      st += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

/** `strip_html(string)` -> visible text: script/style elements removed
  * WITH their content, all remaining tags replaced by spaces (so
  * `</p><p>` never glues words), the five core entities + &nbsp;
  * decoded AFTER tag removal (per HTML semantics `&lt;b&gt;` is text,
  * not a tag) with `&amp;` decoded LAST (so `&amp;lt;` yields `&lt;`,
  * not `<`), whitespace collapsed and trimmed. The web-corpus text
  * extraction step; the DuckDB oracle replays the exact same
  * regex/replace chain, so the semantics are pinned cross-engine.
  * (Regex matching is the parity choice; a document stuffed with
  * unclosed `<script` openers degrades the non-greedy scan toward
  * O(n²) in java.util.regex — cap input length upstream if that
  * adversarial shape matters at corpus scale.) */
case class StripHtml(child: Expression)
    extends UnaryExpression with CodegenFallback {
  // alternation, NOT a backreference: the oracle replays this pattern
  // in DuckDB's RE2, which has no backreferences
  @transient private lazy val scriptStyle = java.util.regex.Pattern.compile(
    "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>")
  @transient private lazy val tags = java.util.regex.Pattern.compile("<[^>]*>")
  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"strip_html expects string input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    var s = input.asInstanceOf[UTF8String].toString
    s = scriptStyle.matcher(s).replaceAll(" ")
    s = tags.matcher(s).replaceAll(" ")
    s = s.replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&amp;", "&") // LAST: double-escaped entities stay escaped
    UTF8String.fromString(ws.matcher(s).replaceAll(" ").trim)
  }
  override protected def withNewChildInternal(newChild: Expression): StripHtml =
    copy(child = newChild)
  override def prettyName: String = "strip_html"
}

/** `gzip_compress(binary)` -> gzip-framed bytes (RFC 1952 via
  * java.util.zip.GZIPOutputStream) — the compressed-blob-column half
  * of reading real corpora (WARC records, compressed JSON fields)
  * where payloads arrive gzipped PER RECORD rather than per file. */
case class GzipCompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"gzip_compress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }
  override protected def withNewChildInternal(newChild: Expression): GzipCompress =
    copy(child = newChild)
  override def prettyName: String = "gzip_compress"
}

/** `gzip_decompress(binary)` -> the original bytes, or null for
  * anything malformed (bad magic, truncated stream, CRC mismatch) —
  * the PERMISSIVE convention of the whole codec family, so corrupt
  * blobs route to the DLQ instead of failing the query. Decompressed
  * output is capped at 64 MiB per value: past that the value is
  * treated as malformed (null), which turns a zip bomb into a routed
  * row rather than an executor OOM. */
case class GzipDecompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"gzip_decompress expects binary input, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    try {
      val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      try Limits.readAtMost(gz, Limits.GzipOut).orNull finally gz.close()
    } catch { case _: java.io.IOException => null }
  }
  override protected def withNewChildInternal(newChild: Expression): GzipDecompress =
    copy(child = newChild)
  override def prettyName: String = "gzip_decompress"
}

/** `sign_sketch(vec)` -> struct(lo, hi): the 64 sign bits of an
  * embedding packed into two longs (bit i of `lo` = dim i of the
  * first 32 dims is STRICTLY positive; `hi` covers dims 32..63) — the
  * binary-quantization sketch behind Hamming-space near-duplicate
  * search: 64 dims collapse to 16 bytes of shuffle per vector, and
  * Hamming distance (bit_count(lo⊕lo') + bit_count(hi⊕hi')) tracks
  * angular distance for random-ish vectors (the SimHash principle
  * with identity hyperplanes). Two halves rather than one long so the
  * DuckDB oracle can pack the same bits without 1<<63 signed-overflow
  * ambiguity. Exactly 64 dims required — the sketch is a fixed-width
  * contract, not a best-effort hash; null for null/short vectors. */
case class SignSketch(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sign_sketch expects array<float|double>, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != 64) return null
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var lo = 0L; var hi = 0L
    var i = 0
    while (i < 64) {
      if (arr.isNullAt(i)) return null
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      if (v > 0) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lo, hi))
  }
  override protected def withNewChildInternal(newChild: Expression): SignSketch =
    copy(child = newChild)
  override def prettyName: String = "sign_sketch"
}

object kernels {
  def sign_sketch(vec: Column): Column =
    ColumnBridge.column(SignSketch(ColumnBridge.expression(vec)))
  def word_shingles(tokens: Column, k: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), k))
  def fixed_point_dot(a: Column, b: Column): Column =
    ColumnBridge.column(FixedPointDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def fixed_point_l2(a: Column, b: Column): Column =
    ColumnBridge.column(FixedPointL2(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def fixed_point_dot_cent(vec: Column, cent: Column): Column =
    ColumnBridge.column(FixedPointDotCent(ColumnBridge.expression(vec), ColumnBridge.expression(cent)))
  def simhash32(tokens: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(tokens)))
  def quantize_int8(vec: Column): Column =
    ColumnBridge.column(QuantizeInt8(ColumnBridge.expression(vec)))
  def zorder2(x: Column, y: Column): Column =
    ColumnBridge.column(ZOrder2(ColumnBridge.expression(x), ColumnBridge.expression(y)))
  def jaro_winkler_ppm(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerPpm(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def nfc_normalize(s: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(s)))
  def strip_accents(s: Column): Column =
    ColumnBridge.column(StripAccents(ColumnBridge.expression(s)))

  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), k, w))
  def strip_html(s: Column): Column =
    ColumnBridge.column(StripHtml(ColumnBridge.expression(s)))
  def gzip_compress(blob: Column): Column =
    ColumnBridge.column(GzipCompress(ColumnBridge.expression(blob)))
  def gzip_decompress(blob: Column): Column =
    ColumnBridge.column(GzipDecompress(ColumnBridge.expression(blob)))

  /** The composed 32-term shift/mask SQL equivalent of [[ZOrder2]]
    * (inputs assumed already masked to 16 bits) — ONE generator shared
    * by the DuckDB oracle and the kernel parity test, so the reference
    * form can never drift between them. */
  def zorder2ComposedSql(x: String, y: String): String =
    (0 until 16).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
}
