package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for dense-vector math over `array<float>` /
  * `array<double>` columns.
  *
  * The reference workload scores candidates by dot product against a query
  * vector (reference `README.md:73-75`) and profiles embeddings via L2 norms
  * and pairwise cosine similarity (reference
  * `scripts/generate_benchmark_reports.py:271-273,527-539`). At 2688 dims ×
  * 10M rows a boxed UDF dominates CPU, so these are native expressions with
  * whole-stage codegen: the generated code loops over [[ArrayData]] with
  * primitive `getFloat`/`getDouble` accessors — no per-row allocation, stays
  * inside the WholeStageCodegen stage.
  *
  * Accumulation is sequential left-to-right in double precision, which is
  * also what the DuckDB oracle SQL (`list_sum(list_transform(...))`) does —
  * keeping float semantics reproducible across engines.
  *
  * Arrays are expected dense (no null elements); mismatched lengths use the
  * common prefix.
  */
trait VectorKernelSupport { self: Expression =>
  protected def elementTypeOf(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def checkVectorInput(exprs: Seq[Expression]): TypeCheckResult = {
    val bad = exprs.collectFirst {
      case e if !e.dataType.isInstanceOf[ArrayType] ||
        !Seq(FloatType, DoubleType, ByteType).contains(elementTypeOf(e)) => e
    }
    bad match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"${self.prettyName} requires array<float|double|tinyint>, got ${e.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** Java source fragment reading element i of `arr` as a double.
    * ByteType support covers int8 quantization code arrays. */
  protected def readElem(arr: String, t: DataType, i: String): String = t match {
    case DoubleType => s"$arr.getDouble($i)"
    case ByteType   => s"(double)$arr.getByte($i)"
    case _          => s"(double)$arr.getFloat($i)"
  }

  /** Interpreted-path accessor: element i of `ad` as double. */
  protected def elemAt(ad: ArrayData, t: DataType, i: Int): Double = t match {
    case DoubleType => ad.getDouble(i)
    case ByteType   => ad.getByte(i).toDouble
    case _          => ad.getFloat(i).toDouble
  }
}

/** `vec_dot(a, b)` — dot product in double precision. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernelSupport {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(left, right))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elementTypeOf(left); val rt = elementTypeOf(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elemAt(x, lt, i) * elemAt(y, rt, i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lt = elementTypeOf(left); val rt = elementTypeOf(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${readElem(a, lt, i)} * ${readElem(b, rt, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_norm(a)` — L2 norm in double precision. */
case class L2Norm(child: Expression)
    extends UnaryExpression with VectorKernelSupport {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(child))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val t = elementTypeOf(child)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val v = elemAt(x, t, i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(child)
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $v = ${readElem(a, t, i)};
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_cos(a, b)` — cosine similarity, `dot / (norm(a) * norm(b))`, single
  * pass. Returns 0.0 when either vector has zero norm. The `sqrt(xx) *
  * sqrt(yy)` form (not `sqrt(xx*yy)`) is deliberate: the DuckDB oracle SQL
  * uses the same association so results match to the last ulp.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernelSupport {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_cos"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(left, right))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elementTypeOf(left); val rt = elementTypeOf(right)
    val n = math.min(x.numElements(), y.numElements())
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val xi = elemAt(x, lt, i); val yi = elemAt(y, rt, i)
      xy += xi * yi; xx += xi * xi; yy += yi * yi
      i += 1
    }
    val denom = math.sqrt(xx) * math.sqrt(yy)
    if (denom == 0.0) 0.0 else xy / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lt = elementTypeOf(left); val rt = elementTypeOf(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val xy = ctx.freshName("xy"); val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val den = ctx.freshName("den")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = ${readElem(a, lt, i)};
         |  final double $yi = ${readElem(b, rt, i)};
         |  $xy += $xi * $yi; $xx += $xi * $xi; $yy += $yi * $yi;
         |}
         |final double $den = java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy);
         |${ev.value} = ($den == 0.0) ? 0.0 : $xy / $den;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_sign_pack(a)` — binary (sign) quantization: bit `i % 64` of output
  * word `i / 64` is set iff `a[i] >= 0`. 32× smaller than float32 — the
  * storage tier below int8 codes — and Hamming distance over the packed
  * words ([[HammingDistance]]) approximates angular distance (Charikar's
  * sign-random-projection LSH, here with axis-aligned planes so any engine
  * can reproduce the signature). Output `array<long>`, length ⌈dims/64⌉,
  * tail bits zero.
  */
case class SignPack(child: Expression)
    extends UnaryExpression with VectorKernelSupport {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_sign_pack"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(child))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val t = elementTypeOf(child)
    val n = x.numElements()
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (elemAt(x, t, i) >= 0.0) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(child)
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val words = ctx.freshName("words")
      s"""
         |final int $n = $a.numElements();
         |final long[] $words = new long[($n + 63) / 64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${readElem(a, t, i)} >= 0.0) {
         |    $words[$i >> 6] |= (1L << ($i & 63));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($words);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_hamming(a, b)` — Hamming distance between two packed sign
  * signatures (`array<long>` from [[SignPack]]): popcount of the XOR, the
  * candidate-generation metric for binary-quantized vector search.
  * Mismatched lengths use the common prefix, like the float kernels.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_hamming"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> sign signatures, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  // Null ELEMENTS are rejected at runtime, not by type-check: SignPack
  // emits containsNull=false, but a signature stored to parquet reads back
  // as containsNull=true (parquet arrays are nullable-element by default),
  // and rejecting that schema would break every stored-signature table.
  // Silently reading a null element as 0 would corrupt the distance.
  private def nullElem(): Nothing = throw new IllegalArgumentException(
    "vec_hamming: null element in sign signature")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) nullElem()
      acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "vec_hamming: null element in sign signature");
         |  }
         |  $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `nearest_centroid(v)` — index of the nearest centroid (squared-L2, ties
  * → lower index) among a build-time centroid table — the IVF assignment
  * kernel.
  *
  * One fused pass: the row vector is copied to a primitive array once
  * (`toFloatArray` is a single memory copy off the UnsafeArrayData), then
  * every centroid is scanned in tight JIT-vectorizable primitive loops.
  * k separate `vec_dot` calls would re-walk the ArrayData accessor k
  * times — measured ~10× slower at k=16 × 2688 dims. Distances use the
  * |c|²−2·x·c form (|x|² is rank-invariant), accumulated in double.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression with VectorKernelSupport {

  require(centroids.nonEmpty)

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(child))

  @transient private lazy val c2: Array[Double] =
    centroids.map(_.foldLeft(0.0)((acc, v) => acc + v.toDouble * v))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val t = elementTypeOf(child)
    val n = x.numElements()
    var best = Double.MaxValue
    var bi = 0
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val m = math.min(n, cv.length)
      var acc = 0.0
      var i = 0
      while (i < m) { acc += elemAt(x, t, i) * cv(i); i += 1 }
      val d = c2(c) - 2.0 * acc
      if (d < best) { best = d; bi = c }
      c += 1
    }
    bi
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(child)
    val csRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val c2Ref = ctx.addReferenceObj("c2sums", c2, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v"); val best = ctx.freshName("best")
      val bi = ctx.freshName("bi"); val c = ctx.freshName("c")
      val cv = ctx.freshName("cv"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val toPrim = t match {
        case DoubleType => s"final double[] $v = $a.toDoubleArray();"
        case ByteType   => s"final byte[] $v = $a.toByteArray();"
        case _          => s"final float[] $v = $a.toFloatArray();"
      }
      s"""
         |$toPrim
         |double $best = Double.MAX_VALUE; int $bi = 0;
         |for (int $c = 0; $c < $csRef.length; $c++) {
         |  final float[] $cv = $csRef[$c];
         |  final int $m = java.lang.Math.min($v.length, $cv.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $acc += (double)$v[$i] * (double)$cv[$i];
         |  }
         |  final double $d = $c2Ref[$c] - 2.0 * $acc;
         |  if ($d < $best) { $best = $d; $bi = $c; }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nearest_centroid_dist(v)` — TRUE squared-L2 distance to the nearest
  * centroid (same assignment rule and fused single-pass shape as
  * [[NearestCentroid]], plus a |x|² accumulation so the result is the
  * absolute distance, not the rank-only |c|²−2·x·c form). This is the IVF
  * drift-probe kernel: mean assigned distance rising against the build-time
  * baseline means the frozen centroids no longer describe the data.
  */
case class NearestCentroidDist(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression with VectorKernelSupport {

  require(centroids.nonEmpty)

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid_dist"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(child))

  @transient private lazy val c2: Array[Double] =
    centroids.map(_.foldLeft(0.0)((acc, v) => acc + v.toDouble * v))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val t = elementTypeOf(child)
    val n = x.numElements()
    var x2 = 0.0
    var i = 0
    while (i < n) { val e = elemAt(x, t, i); x2 += e * e; i += 1 }
    var best = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val m = math.min(n, cv.length)
      var acc = 0.0
      var j = 0
      while (j < m) { acc += elemAt(x, t, j) * cv(j); j += 1 }
      val d = c2(c) - 2.0 * acc
      if (d < best) best = d
      c += 1
    }
    // clamp: |x|² + (|c|²−2xc) is ≥ 0 analytically, but accumulation
    // order can leave a tiny negative for near-coincident points
    math.max(0.0, best + x2)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(child)
    val csRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val c2Ref = ctx.addReferenceObj("c2sums", c2, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v"); val best = ctx.freshName("best")
      val x2 = ctx.freshName("x2"); val c = ctx.freshName("c")
      val cv = ctx.freshName("cv"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val toPrim = t match {
        case DoubleType => s"final double[] $v = $a.toDoubleArray();"
        case ByteType   => s"final byte[] $v = $a.toByteArray();"
        case _          => s"final float[] $v = $a.toFloatArray();"
      }
      s"""
         |$toPrim
         |double $x2 = 0.0;
         |for (int $i = 0; $i < $v.length; $i++) {
         |  $x2 += (double)$v[$i] * (double)$v[$i];
         |}
         |double $best = Double.MAX_VALUE;
         |for (int $c = 0; $c < $csRef.length; $c++) {
         |  final float[] $cv = $csRef[$c];
         |  final int $m = java.lang.Math.min($v.length, $cv.length);
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $acc += (double)$v[$j] * (double)$cv[$j];
         |  }
         |  final double $d = $c2Ref[$c] - 2.0 * $acc;
         |  if ($d < $best) { $best = $d; }
         |}
         |${ev.value} = java.lang.Math.max(0.0, $best + $x2);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `centroid_dist_at(v, cid)` — TRUE squared-L2 distance from `v` to the
  * GIVEN centroid `cid`, bit-identical to what [[NearestCentroidDist]] (or
  * the grouped variant) returns for a row whose kernel chose `cid`: same
  * |x|² + |c|²−2·x·c form, same left-to-right double accumulation, same
  * ≥ 0 clamp. This is the build/append stats kernel as of r15: the write
  * pass assigns once (`nearest_centroid*`), and per-cell radii/RMS are
  * aggregated from this O(d) expression over the ALREADY-ASSIGNED cluster
  * id — O(d) per row instead of re-running the O(k·d) assignment scan the
  * r14 two-pass stats paid (27–43% of the measured 2M/4M build walls).
  * `cid` must be a valid id in [0, numCentroids) — anything else throws,
  * which is the right failure for a corrupted assignment column.
  */
case class CentroidDistAt(left: Expression, right: Expression,
    centroids: Array[Array[Float]])
    extends BinaryExpression with VectorKernelSupport {

  require(centroids.nonEmpty)

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "centroid_dist_at"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecCheck = checkVectorInput(Seq(left))
    if (vecCheck != TypeCheckResult.TypeCheckSuccess) vecCheck
    else if (right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an int cluster id, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val c2: Array[Double] =
    centroids.map(_.foldLeft(0.0)((acc, v) => acc + v.toDouble * v))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cid = b.asInstanceOf[Int]
    val t = elementTypeOf(left)
    val n = x.numElements()
    var x2 = 0.0
    var i = 0
    while (i < n) { val e = elemAt(x, t, i); x2 += e * e; i += 1 }
    val cv = centroids(cid)
    val m = math.min(n, cv.length)
    var acc = 0.0
    var j = 0
    while (j < m) { acc += elemAt(x, t, j) * cv(j); j += 1 }
    // clamp: analytically ≥ 0, accumulation order can leave a tiny
    // negative for near-coincident points (same rule as the kernels)
    math.max(0.0, c2(cid) - 2.0 * acc + x2)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(left)
    val csRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val c2Ref = ctx.addReferenceObj("c2sums", c2, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("v"); val x2 = ctx.freshName("x2")
      val cv = ctx.freshName("cv"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val toPrim = t match {
        case DoubleType => s"final double[] $v = $a.toDoubleArray();"
        case ByteType   => s"final byte[] $v = $a.toByteArray();"
        case _          => s"final float[] $v = $a.toFloatArray();"
      }
      s"""
         |$toPrim
         |double $x2 = 0.0;
         |for (int $i = 0; $i < $v.length; $i++) {
         |  $x2 += (double)$v[$i] * (double)$v[$i];
         |}
         |final float[] $cv = $csRef[$b];
         |final int $m = java.lang.Math.min($v.length, $cv.length);
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += (double)$v[$j] * (double)$cv[$j];
         |}
         |${ev.value} = java.lang.Math.max(0.0, $c2Ref[$b] - 2.0 * $acc + $x2);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `nearest_centroid_grouped(v)` — the two-level IVF assignment kernel for
  * LARGE centroid tables: rank the ~√k coarse group centroids by
  * squared-L2 (phase 1), then scan only the top-`probes` groups' member
  * centroids exactly (phase 2; ties → lower fine index, matching
  * [[NearestCentroid]]). With `probes ≥ groups` the result equals the
  * flat kernel EXACTLY — ties included — which is the spec-pinned parity
  * contract; with small `probes` it is a (1+probes)·√k·d approximation
  * of the flat k·d pass, the standard hierarchical-quantizer trade
  * (assignment moves a ~1e-3 fraction of rows to a near-equidistant
  * neighbor cell, measured in VectorKernelsSpec and the kernel grid in
  * SCALE.md).
  *
  * This is what keeps the IVF BUILD sub-quadratic at corpus scale: with
  * k = √n cells the flat assignment is n·√n·d mul-adds (the one
  * super-linear cost in the index path — ~7 h single-node at the
  * reference's 10M tier); two-phase assignment cuts the per-row factor
  * from k to (1+probes)·√k, restoring ~n^1.25·d.
  *
  * `emitDist = true` returns the true squared-L2 distance to the CHOSEN
  * centroid instead of its index (the stats/radii variant — radii must
  * describe the cells rows actually land in, so the stats pass uses the
  * same selection rule as the assignment pass).
  */
case class NearestCentroidGrouped(child: Expression,
    centroids: Array[Array[Float]], coarse: Array[Array[Float]],
    members: Array[Array[Int]], probes: Int, emitDist: Boolean)
    extends UnaryExpression with VectorKernelSupport {

  require(centroids.nonEmpty && coarse.nonEmpty &&
    members.length == coarse.length && probes > 0)

  override def dataType: DataType = if (emitDist) DoubleType else IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (emitDist) "nearest_centroid_grouped_dist" else "nearest_centroid_grouped"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(child))

  @transient private lazy val c2fine: Array[Double] =
    centroids.map(_.foldLeft(0.0)((acc, v) => acc + v.toDouble * v))
  @transient private lazy val c2coarse: Array[Double] =
    coarse.map(_.foldLeft(0.0)((acc, v) => acc + v.toDouble * v))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val t = elementTypeOf(child)
    val n = x.numElements()
    val p = math.min(probes, coarse.length)
    // phase 1: top-p coarse groups by |cg|²−2x·cg (insertion, p is tiny)
    val topG = Array.fill(p)(-1)
    val topD = Array.fill(p)(Double.MaxValue)
    var g = 0
    while (g < coarse.length) {
      if (members(g).nonEmpty) {
        val cg = coarse(g)
        val m = math.min(n, cg.length)
        var acc = 0.0
        var i = 0
        while (i < m) { acc += elemAt(x, t, i) * cg(i); i += 1 }
        val d = c2coarse(g) - 2.0 * acc
        var s = p - 1
        if (d < topD(s)) {
          while (s > 0 && d < topD(s - 1)) {
            topD(s) = topD(s - 1); topG(s) = topG(s - 1); s -= 1
          }
          topD(s) = d; topG(s) = g
        }
      }
      g += 1
    }
    // phase 2: exact scan of the selected groups' members
    var best = Double.MaxValue
    var bi = Int.MaxValue
    var s = 0
    while (s < p) {
      val gs = topG(s)
      if (gs >= 0) {
        val ms = members(gs)
        var j = 0
        while (j < ms.length) {
          val f = ms(j)
          val cf = centroids(f)
          val m = math.min(n, cf.length)
          var acc = 0.0
          var i = 0
          while (i < m) { acc += elemAt(x, t, i) * cf(i); i += 1 }
          val d = c2fine(f) - 2.0 * acc
          if (d < best || (d == best && f < bi)) { best = d; bi = f }
          j += 1
        }
      }
      s += 1
    }
    if (!emitDist) bi
    else {
      var x2 = 0.0
      var i = 0
      while (i < n) { val e = elemAt(x, t, i); x2 += e * e; i += 1 }
      math.max(0.0, best + x2)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(child)
    val csRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val c2fRef = ctx.addReferenceObj("c2fine", c2fine, "double[]")
    val coRef = ctx.addReferenceObj("coarse", coarse, "float[][]")
    val c2cRef = ctx.addReferenceObj("c2coarse", c2coarse, "double[]")
    val memRef = ctx.addReferenceObj("members", members, "int[][]")
    val p = math.min(probes, coarse.length)
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v")
      val topG = ctx.freshName("topG"); val topD = ctx.freshName("topD")
      val g = ctx.freshName("g"); val cg = ctx.freshName("cg")
      val m = ctx.freshName("m"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      val s = ctx.freshName("s"); val best = ctx.freshName("best")
      val bi = ctx.freshName("bi"); val gs = ctx.freshName("gs")
      val ms = ctx.freshName("ms"); val j = ctx.freshName("j")
      val f = ctx.freshName("f"); val cf = ctx.freshName("cf")
      val x2 = ctx.freshName("x2")
      val toPrim = t match {
        case DoubleType => s"final double[] $v = $a.toDoubleArray();"
        case ByteType   => s"final byte[] $v = $a.toByteArray();"
        case _          => s"final float[] $v = $a.toFloatArray();"
      }
      val emit =
        if (!emitDist) s"${ev.value} = $bi;"
        else
          s"""
             |double $x2 = 0.0;
             |for (int $i = 0; $i < $v.length; $i++) {
             |  $x2 += (double)$v[$i] * (double)$v[$i];
             |}
             |${ev.value} = java.lang.Math.max(0.0, $best + $x2);
           """.stripMargin
      s"""
         |$toPrim
         |final int[] $topG = new int[$p];
         |final double[] $topD = new double[$p];
         |for (int $s = 0; $s < $p; $s++) {
         |  $topG[$s] = -1; $topD[$s] = Double.MAX_VALUE;
         |}
         |for (int $g = 0; $g < $coRef.length; $g++) {
         |  if ($memRef[$g].length == 0) continue;
         |  final float[] $cg = $coRef[$g];
         |  final int $m = java.lang.Math.min($v.length, $cg.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $acc += (double)$v[$i] * (double)$cg[$i];
         |  }
         |  final double $d = $c2cRef[$g] - 2.0 * $acc;
         |  int $s = $p - 1;
         |  if ($d < $topD[$s]) {
         |    while ($s > 0 && $d < $topD[$s - 1]) {
         |      $topD[$s] = $topD[$s - 1]; $topG[$s] = $topG[$s - 1]; $s--;
         |    }
         |    $topD[$s] = $d; $topG[$s] = $g;
         |  }
         |}
         |double $best = Double.MAX_VALUE;
         |int $bi = Integer.MAX_VALUE;
         |for (int $s = 0; $s < $p; $s++) {
         |  final int $gs = $topG[$s];
         |  if ($gs < 0) continue;
         |  final int[] $ms = $memRef[$gs];
         |  for (int $j = 0; $j < $ms.length; $j++) {
         |    final int $f = $ms[$j];
         |    final float[] $cf = $csRef[$f];
         |    final int $m = java.lang.Math.min($v.length, $cf.length);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      $acc += (double)$v[$i] * (double)$cf[$i];
         |    }
         |    final double $d = $c2fRef[$f] - 2.0 * $acc;
         |    if ($d < $best || ($d == $best && $f < $bi)) { $best = $d; $bi = $f; }
         |  }
         |}
         |$emit
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_encode(v)` — product-quantization encoder: splits the vector into
  * `m` contiguous subspaces (d/m dims each) and emits, per subspace, the
  * index of the nearest codebook centroid (squared-L2, ties → lower
  * index) as one byte, shifted by −128 for `array<tinyint>` storage —
  * the same storage convention as [[graft.operators.Quantize]]'s scalar
  * codes. At m = 96 over 2688 dims this is 96 bytes/row, a 28× cut vs
  * int8 and 112× vs float32 — the candidate-generation tier for
  * IVF-PQ (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011; the FAISS IndexIVFPQ storage layout is the
  * public reference shape). One fused kernel per row: the codegen loops
  * subspace → centroid → dim over a primitive copy of the row vector,
  * inside whole-stage codegen like [[NearestCentroid]].
  *
  * `codebooks(j)(c)` is centroid `c` of subspace `j`; all subspaces must
  * have equal width (d divisible by m — [[graft.operators.Quantize
  * .defaultPqM]] picks such an m).
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with VectorKernelSupport {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))
  require(codebooks.forall(_.length <= 256),
    "pq_encode: at most 256 centroids per subspace (one byte per code)")

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorInput(Seq(child))

  @transient private lazy val dsub: Int = codebooks(0)(0).length

  // per-(subspace, centroid) squared norms — the |c|² term of the
  // rank-only |c|²−2·x·c distance form (|x|² is constant per argmin)
  @transient private lazy val cb2: Array[Array[Double]] =
    codebooks.map(_.map(_.foldLeft(0.0)((acc, v) => acc + v.toDouble * v)))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val t = elementTypeOf(child)
    val n = x.numElements()
    val m = codebooks.length
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val off = j * dsub
      val cbj = codebooks(j)
      val c2j = cb2(j)
      var best = Double.MaxValue
      var bi = 0
      var c = 0
      while (c < cbj.length) {
        val cv = cbj(c)
        var acc = 0.0
        var i = 0
        val lim = math.min(cv.length, math.max(0, n - off))
        while (i < lim) { acc += elemAt(x, t, off + i) * cv(i); i += 1 }
        val d = c2j(c) - 2.0 * acc
        if (d < best) { best = d; bi = c }
        c += 1
      }
      out(j) = (bi - 128).toByte
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = elementTypeOf(child)
    val cbRef = ctx.addReferenceObj("pqcbs", codebooks, "float[][][]")
    val c2Ref = ctx.addReferenceObj("pqc2", cb2, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v"); val out = ctx.freshName("out")
      val j = ctx.freshName("j"); val off = ctx.freshName("off")
      val cbj = ctx.freshName("cbj"); val c2j = ctx.freshName("c2j")
      val best = ctx.freshName("best"); val bi = ctx.freshName("bi")
      val c = ctx.freshName("c"); val cv = ctx.freshName("cv")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val lim = ctx.freshName("lim"); val d = ctx.freshName("d")
      val toPrim = t match {
        case DoubleType => s"final double[] $v = $a.toDoubleArray();"
        case ByteType   => s"final byte[] $v = $a.toByteArray();"
        case _          => s"final float[] $v = $a.toFloatArray();"
      }
      val dsubLit = dsub.toString
      s"""
         |$toPrim
         |final byte[] $out = new byte[$cbRef.length];
         |for (int $j = 0; $j < $cbRef.length; $j++) {
         |  final int $off = $j * $dsubLit;
         |  final float[][] $cbj = $cbRef[$j];
         |  final double[] $c2j = $c2Ref[$j];
         |  double $best = Double.MAX_VALUE; int $bi = 0;
         |  for (int $c = 0; $c < $cbj.length; $c++) {
         |    final float[] $cv = $cbj[$c];
         |    final int $lim =
         |      java.lang.Math.min($cv.length, java.lang.Math.max(0, $v.length - $off));
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      $acc += (double)$v[$off + $i] * (double)$cv[$i];
         |    }
         |    final double $d = $c2j[$c] - 2.0 * $acc;
         |    if ($d < $best) { $best = $d; $bi = $c; }
         |  }
         |  $out[$j] = (byte)($bi - 128);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_adc(codes, lut, ksub)` — asymmetric-distance-computation score: for
  * a query's precomputed lookup table `lut` (flat `m × ksub` doubles,
  * `lut(j·ksub + c)` = dot(query subvector j, codebook(j)(c)) —
  * [[graft.operators.Quantize.pqLut]]), the score of a coded row is
  *   Σ_j lut(j·ksub + (codes(j) + 128))
  * = the dot of the query against the row's CODEBOOK reconstruction.
  * O(m) table lookups per row — no multiplies, and the scan reads only
  * the m-byte code column. This is the PQ phase-1 ranking score; the
  * serving path re-ranks its shortlist against the stored sq8 codes
  * (exact over what is stored), so ADC error only moves RECALL, never a
  * returned score.
  */
case class PqAdc(child: Expression, lut: Array[Double], ksub: Int)
    extends UnaryExpression with VectorKernelSupport {

  require(ksub > 0 && ksub <= 256 && lut.length % ksub == 0)

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(ByteType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires array<tinyint> codes, got ${other.sql}")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val m = math.min(x.numElements(), lut.length / ksub)
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut(j * ksub + (x.getByte(j).toInt + 128))
      j += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqlut", lut, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val j = ctx.freshName("j")
      s"""
         |final byte[] $v = $a.toByteArray();
         |final int $m = java.lang.Math.min($v.length, $lutRef.length / $ksub);
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lutRef[$j * $ksub + (((int)$v[$j]) + 128)];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The query vector of the RUNNING JOB, as a plan leaf: `array<float>`
  * (or, `summed`, its left-to-right double sum Σq) read from the job's
  * local property `key` ([[JobQuery.encode]]). Not foldable, so a plan
  * compiled once serves every query — the vector binds per job instead
  * of being re-planned, re-codegen'd and re-rendered as a literal per
  * query. Decoded once per partition: codegen loads it into a mutable
  * state in the generated class's init, the interpreted path memoizes
  * it per deserialized instance (one per task).
  */
case class JobQuery(key: String, summed: Boolean) extends LeafExpression {

  override def dataType: DataType =
    if (summed) DoubleType else ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "job_query"

  /** The bound value: [[ArrayData]] of the vector, or a boxed Double. */
  def load(): Any = {
    val tc = org.apache.spark.TaskContext.get()
    val s = if (tc == null) null else tc.getLocalProperty(key)
    require(s != null,
      s"$prettyName($key) evaluated outside a job that binds the query")
    val q = JobQuery.decode(s)
    if (summed) JobQuery.sum(q)
    else UnsafeArrayData.fromPrimitiveArray(q)
  }

  @transient private lazy val bound: Any = load()

  override def eval(input: InternalRow): Any = bound

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral, JavaCode}
    val ref = ctx.addReferenceObj("jobQuery", this)
    val jt = CodeGenerator.javaType(dataType)
    val state = ctx.addMutableState(jt, "jobQuery", v =>
      if (summed) s"$v = ((java.lang.Double) $ref.load()).doubleValue();"
      else s"$v = ($jt) $ref.load();")
    ev.copy(isNull = FalseLiteral, value = JavaCode.global(state, dataType))
  }
}

object JobQuery {
  def encode(q: Array[Float]): String = {
    val buf = java.nio.ByteBuffer.allocate(4 * q.length)
    buf.asFloatBuffer().put(q)
    java.util.Base64.getEncoder.encodeToString(buf.array())
  }

  def decode(s: String): Array[Float] = {
    val fb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      .asFloatBuffer()
    val q = new Array[Float](fb.remaining())
    fb.get(q)
    q
  }

  /** Σq in index order, in double — the sq8 score's query term. */
  def sum(q: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < q.length) { s += q(i); i += 1 }
    s
  }
}

/** Whether `child` — an id cast to string — is in the broadcast id set:
  * the large-set tombstone test. Every plan that tests against one
  * tombstone snapshot shares its ONE broadcast variable (fetched once per
  * executor), where a broadcast join would build and hold a hashed copy
  * of the set per plan. A null id yields null.
  */
case class InBroadcastIds(child: Expression,
    ids: org.apache.spark.broadcast.Broadcast[Set[UTF8String]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "in_broadcast_ids"

  override protected def nullSafeEval(id: Any): Any =
    ids.value.contains(id.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The query bitmask of `child` — a row's probe key (its cell, or its id
  * as a string) — in the broadcast `masks` table: bit q of word q / 64 is
  * set when query q's set holds the key. An absent or null key yields
  * null. Multi-query IVF search's per-query probe-set restriction.
  */
case class KeyMask(child: Expression,
    masks: org.apache.spark.broadcast.Broadcast[Map[Any, Array[Long]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "key_mask"

  @transient private lazy val table: Map[Any, ArrayData] =
    masks.value.map { case (key, m) => key -> UnsafeArrayData.fromPrimitiveArray(m) }

  override protected def nullSafeEval(key: Any): Any = table.getOrElse(key, null)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
