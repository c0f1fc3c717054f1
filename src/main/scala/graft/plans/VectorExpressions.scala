package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/**
 * Native Catalyst expression for the similarity hot path (SURVEY §2.9
 * altitude rule: custom `Expression` only where built-ins can't do the job
 * efficiently).
 *
 * `aggregate(zip_with(a, b, _*_), 0d, _+_)` computes the same dot product
 * but evaluates its lambdas interpreted per element — the ONLY hot path in
 * the engine outside whole-stage codegen. This expression generates a tight
 * primitive loop instead (and participates in codegen via `doGenCode`),
 * with the SAME sequential fold order — double accumulation in array
 * order — so results are bit-identical to the higher-order formulation and
 * to the DuckDB oracle.
 *
 * Null semantics also match the HOF twin (the expression is SQL-registered,
 * so the inputs are not guaranteed to be the engine's own fixed-dim
 * embeddings): `zip_with` null-pads a length mismatch and the fold
 * null-propagates, so mismatched lengths or a null element yield NULL here
 * too — never a silently truncated or element-dropped "dot product" that
 * would hand a corrupt embedding a plausible similarity score.
 */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
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
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * ADC (asymmetric-distance) lookup-sum: `Σ_m table[m][codes[m]]` — the
 * inner loop of every PQ probe. `codes` is the per-row `array<int>` of
 * subspace codes; `table` is an `array<array<double>>` distance table
 * (a literal for single-query probes, a per-query column in the batch
 * join).
 *
 * The higher-order formulation
 * `aggregate(zip_with(codes, sequence(0, m-1), (c, m) ->
 * element_at(element_at(table, m+1), c+1)), 0d, (a, x) -> a + x)`
 * computes the same sum but evaluates its lambdas interpreted per row —
 * at corpus scale ADC is exactly the hot loop that must stay inside
 * whole-stage codegen (the [[FloatVectorDot]] precedent). Accumulation is
 * double in subspace order, so results are bit-identical to the HOF chain
 * and the bridges' brute-force oracle stays hash-green.
 */
case class PqAdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = left.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val tableOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (codesOk && tableOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int>, array<array<double>>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val table = b.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), table.numElements())
    var acc = 0.0
    var i = 0
    while (i < m) {
      // the expression is SQL-registered, so a user-supplied code can be
      // anything — guard like ANSI element_at instead of reading
      // out-of-bounds unsafe memory (internal pqEncode output is always
      // in range, and the branch is perfectly predicted there)
      if (codes.isNullAt(i) || table.isNullAt(i))
        throw new IllegalArgumentException(
          s"pq_adc_distance: null element at subspace $i")
      val c = codes.getInt(i)
      val row = table.getArray(i)
      if (c < 0 || c >= row.numElements())
        throw new IllegalArgumentException(
          s"pq_adc_distance: code $c out of range [0, ${row.numElements()}) " +
            s"at subspace $i")
      if (row.isNullAt(c))
        throw new IllegalArgumentException(
          s"pq_adc_distance: null table cell at subspace $i, code $c")
      acc += row.getDouble(c)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, table) => {
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val c = ctx.freshName("c")
      val row = ctx.freshName("row")
      // same guards as nullSafeEval: SQL-facing, so out-of-range codes
      // and null elements must raise, not read garbage
      s"""
         |int $m = java.lang.Math.min($codes.numElements(), $table.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($codes.isNullAt($i) || $table.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "pq_adc_distance: null element at subspace " + $i);
         |  }
         |  int $c = $codes.getInt($i);
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $table.getArray($i);
         |  if ($c < 0 || $c >= $row.numElements()) {
         |    throw new IllegalArgumentException(
         |      "pq_adc_distance: code " + $c + " out of range [0, " +
         |        $row.numElements() + ") at subspace " + $i);
         |  }
         |  if ($row.isNullAt($c)) {
         |    throw new IllegalArgumentException(
         |      "pq_adc_distance: null table cell at subspace " + $i +
         |        ", code " + $c);
         |  }
         |  $acc += $row.getDouble($c);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * All-tables LSH bucket signature in ONE map-only expression: for table t,
 * bit b, the hyperplane projection Σ_d vec[d]·w[t][b][d] decides bit b of
 * bucket t (set when ≥ 0). Replaces the posexplode → broadcast-weight
 * join → two-aggregation "matrix multiply" of the index build — that
 * shape fans each vector into dim·tables·bits rows to keep the multiply
 * codegen'd, where this kernel is the same double accumulation in d
 * order (bit-identical buckets: the join-agg path accumulates each
 * (vec,table,bit) group in d order too, all of one vector's rows staying
 * inside its scan task) with zero fan-out and zero exchange. Weights
 * ride the plan as a literal table (tables·bits·dim doubles — kilobytes,
 * the LSH "model" is pure code).
 */
case class LshBucketSignature(child: Expression, weights: Seq[Double],
    tables: Int, bits: Int, dim: Int) extends UnaryExpression {
  require(tables >= 1 && bits >= 1 && bits <= 62 && dim >= 1 &&
    weights.length == tables * bits * dim,
    s"LshBucketSignature: need tables*bits*dim weights")
  private lazy val wArr = weights.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bucket_signature"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.lshBuckets(v.asInstanceOf[ArrayData], wArr, tables, bits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lshW", wArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.VectorKernels.lshBuckets($c, $wRef, $tables, $bits, $dim);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Nearest-centroid assignment as ONE map-only expression: argmin over a
 * literal centroid table of `‖c‖² − 2·v̂·c` (the ‖v̂‖² term is constant
 * per vector), first-min tie-break — exactly the `min(struct(d, c))` of
 * the broadcast-crossJoin + groupBy formulation it replaces, with the
 * same [[FloatVectorDot]] accumulation order, so assignments are
 * bit-identical while the nCells× row fan-out and the groupBy(id)
 * exchange disappear (each Lloyd round and the final assignment become
 * pure scans).
 */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Float]],
    cn2: Seq[Double]) extends UnaryExpression {
  require(cents.nonEmpty && cents.length == cn2.length,
    "NearestCentroid: need one ‖c‖² per centroid")
  private lazy val cArr: Array[Array[Float]] = cents.map(_.toArray).toArray
  private lazy val n2Arr: Array[Double] = cn2.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCentroid(v.asInstanceOf[ArrayData], cArr, n2Arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ncCents", cArr, "float[][]")
    val nRef = ctx.addReferenceObj("ncN2", n2Arr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.VectorKernels.nearestCentroid($c, $cRef, $nRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Row-local SemDeDup survivor selection over ONE cluster's collected
 * members — the aggregation form of the cluster-scoped pair join: a
 * member is a duplicate iff ANY smaller-id member of the same cluster has
 * quantized cosine ≥ τ with it (`cos·10⁶ + 0.5 ≥ thr`, the integer-
 * threshold spelling of `quantize(cos, 6) ≥ τ` — see
 * `Similarity.semanticDedupClustered`). Input: the cluster's members as
 * array<struct<id:long, vec:array<float>, nrm:double>> (collect_list
 * order immaterial — the rule quantifies over ALL smaller-id mates, so
 * the survivor SET is order-independent); output: array<long> of
 * survivor ids. Dot products accumulate in [[FloatVectorDot]]'s exact
 * sequential double order, so the verdicts match the join formulation
 * and the DuckDB oracle bit-for-bit.
 */
case class SemDedupSurvivors(child: Expression, thr: Double)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: org.apache.spark.sql.types.StructType, _)
        if s.length == 3 && s(0).dataType == LongType &&
          s(1).dataType.isInstanceOf[ArrayType] &&
          s(1).dataType.asInstanceOf[ArrayType].elementType == FloatType &&
          s(2).dataType == DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<long, array<float>, double>>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "semdedup_survivors"

  override def nullSafeEval(m: Any): Any =
    VectorKernels.semDedupSurvivors(m.asInstanceOf[ArrayData], thr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, m =>
      s"${ev.value} = graft.plans.VectorKernels.semDedupSurvivors($m, $thr);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Cosine of (int8-dequantized vector, query) in ONE native pass — the
 * serving lift the `topKInt8` scaladoc promised: the higher-order
 * zip_with/aggregate formulation evaluates interpreted per element and
 * costs ~11 s for 640 k × 64-dim at the 128× sweep; this expression is
 * the same arithmetic in a codegen'd kernel. BIT-IDENTICAL contract with
 * the HOF form (and so the DuckDB oracle): same scale quantization
 * (floor(x·10⁶+0.5)/10⁶ on amax/127), same half-up code rounding and
 * ±127 clamp, same SEQUENTIAL fold order (dot and norm accumulate in
 * dimension order — never a reduction-tree), same multiply order
 * ((code·s)·q_d). Returns the UNQUANTIZED cosine — callers apply
 * `Quantize.q6` at the column level so the emission quantization stays
 * defined in exactly one place.
 *
 * Degenerate inputs return NULL, which `desc` ordering places LAST so
 * they can never displace a real neighbor from a served top-k:
 * dimension-mismatched vectors and vectors containing null elements
 * get NULL exactly as the HOF form does (zip_with pads the shorter
 * array with nulls and `aggregate`'s fold null-propagates — verified
 * against Spark 4.1.2; it does NOT null-skip), and zero-norm vectors
 * get NULL as a DELIBERATE softening of the HOF form's ANSI
 * DIVIDE_BY_ZERO abort (a serving path must not kill the job on one
 * zero-padded embedding; NaN would be worse — Spark sorts NaN FIRST
 * under desc, promoting the degenerate row to rank 1).
 */
case class Int8DequantCosine(child: Expression, query: Seq[Double])
    extends UnaryExpression {
  require(query.nonEmpty, "int8_dequant_cos: empty query vector")

  // NULL is an output value (degenerate inputs), not only a propagation
  // of a NULL child, so this must stay nullable even over a non-null
  // child column.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int8_dequant_cos"

  @transient private lazy val qArr: Array[Double] = query.toArray
  @transient private lazy val qNorm: Double = {
    // ‖q‖ matches Similarity.normOf: sequential sum of squares, sqrt
    var acc = 0.0
    var i = 0
    while (i < qArr.length) { acc += qArr(i) * qArr(i); i += 1 }
    math.sqrt(acc)
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.int8DequantCos(v.asInstanceOf[ArrayData], qArr, qNorm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("int8q", qArr, "double[]")
    val nRef = ctx.addReferenceObj("int8qn", java.lang.Double.valueOf(qNorm), "java.lang.Double")
    val r = ctx.freshName("int8r")
    nullSafeCodeGen(ctx, ev, v => s"""
      java.lang.Double $r = graft.plans.VectorKernels.int8DequantCos($v, $qRef, $nRef);
      if ($r == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $r.doubleValue();
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernels — generated code calls these directly. */
object VectorKernels {
  /** [[VecCenterProject]] kernel: y = M·(x − μ), or x − μ when `m` is
    * null. Throws on a wrong-length vector (fixed-dim-column corruption
    * contract). */
  def centerProject(vec: ArrayData, mu: Array[Double],
      m: Array[Array[Double]]): ArrayData = {
    val d = mu.length
    require(vec.numElements() == d,
      s"vec_center_project: expected dim $d, got ${vec.numElements()}")
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      // same corruption contract as VecMoments: a null element must
      // throw, not silently read as 0.0f through the unsafe getter
      require(!vec.isNullAt(i), s"vec_center_project: null element at $i")
      x(i) = vec.getFloat(i).toDouble - mu(i)
      i += 1
    }
    val y = if (m.length == 0) x
      else {
        val out = new Array[Double](d)
        i = 0
        while (i < d) {
          val row = m(i)
          var acc = 0.0
          var j = 0
          while (j < d) { acc += row(j) * x(j); j += 1 }
          out(i) = acc
          i += 1
        }
        out
      }
    new GenericArrayData(y)
  }

  /** [[Int8DequantCosine]] kernel — the exact HOF algebra, one pass:
    * amax = max(max(v), −min(v)) in double; s = q6(amax/127); code_d =
    * clamp(floor(v_d/s + 0.5), ±127) (0 when s = 0); dot and dequantized
    * norm² fold SEQUENTIALLY in dimension order; cosine =
    * dot / (√norm² · ‖q‖).
    *
    * Returns null (→ SQL NULL, ranked last under desc) for the
    * degenerate inputs the expression scaladoc documents: dimension
    * mismatch or a null element (the HOF form's own NULL), and
    * zero/NaN norm (softened from the HOF form's ANSI abort). */
  def int8DequantCos(vec: ArrayData, q: Array[Double], qNorm: Double): java.lang.Double = {
    val nv = vec.numElements()
    if (nv != q.length) return null // HOF zip_with null-pad → NULL
    // amax exactly as the column form: float max / float min, cast double
    var maxF = Float.NegativeInfinity
    var minF = Float.PositiveInfinity
    var i = 0
    while (i < nv) {
      if (vec.isNullAt(i)) return null // HOF fold null-propagates → NULL
      val f = vec.getFloat(i)
      if (f > maxF) maxF = f
      if (f < minF) minF = f
      i += 1
    }
    val amax = math.max(maxF.toDouble, -minF.toDouble)
    val s0 = amax / 127.0
    val s = if (java.lang.Double.isNaN(s0) || java.lang.Double.isInfinite(s0)) s0
      else math.floor(s0 * 1e6 + 0.5) / 1e6
    var dot = 0.0
    var n2 = 0.0
    i = 0
    while (i < nv) {
      val code = if (s == 0d) 0d
        else math.max(math.min(math.floor(vec.getFloat(i).toDouble / s + 0.5), 127d), -127d)
      val dq = code * s
      dot += dq * q(i)
      n2 += dq * dq
      i += 1
    }
    val cos = dot / (math.sqrt(n2) * qNorm)
    if (java.lang.Double.isNaN(cos)) null else cos
  }

  /** [[SemDedupSurvivors]] kernel: O(k²/2) dots with early exit on the
    * first ≥τ smaller-id mate; k is bounded by the operator's cell-size
    * premise (and its `maxCell` valve). */
  def semDedupSurvivors(members: ArrayData, thr: Double): ArrayData = {
    val k = members.numElements()
    val ids = new Array[Long](k)
    val vecs = new Array[ArrayData](k)
    val nrm = new Array[Double](k)
    var i = 0
    while (i < k) {
      val r = members.getStruct(i, 3)
      ids(i) = r.getLong(0)
      vecs(i) = r.getArray(1)
      nrm(i) = r.getDouble(2)
      i += 1
    }
    val kept = new Array[Long](k)
    var nKept = 0
    var j = 0
    while (j < k) {
      var dup = false
      var m = 0
      while (m < k && !dup) {
        if (ids(m) < ids(j)) {
          val a = vecs(m)
          val b = vecs(j)
          val n = math.min(a.numElements(), b.numElements())
          var acc = 0.0
          var d = 0
          while (d < n) {
            acc += a.getFloat(d).toDouble * b.getFloat(d).toDouble
            d += 1
          }
          if (acc / (nrm(m) * nrm(j)) * 1e6 + 0.5 >= thr) dup = true
        }
        m += 1
      }
      if (!dup) { kept(nKept) = ids(j); nKept += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(kept, nKept))
  }

  /** [[LshBucketSignature]] kernel. Sums in d order ([[FloatVectorDot]]
    * convention); dims beyond `dim` are ignored (the join path's weight
    * table had no rows for them), missing dims contribute 0. */
  def lshBuckets(vec: ArrayData, w: Array[Double], tables: Int, bits: Int,
      dim: Int): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var acc = 0.0
        var d = 0
        while (d < n) {
          acc += vec.getFloat(d).toDouble * w(base + d)
          d += 1
        }
        if (acc >= 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** [[NearestCentroid]] kernel: strict `<` keeps the FIRST minimal cell
    * (ties → lowest id, the `min(struct(d, c))` semantics). */
  def nearestCentroid(vec: ArrayData, cents: Array[Array[Float]],
      cn2: Array[Double]): Int = {
    var best = Double.PositiveInfinity
    var bc = 0
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val n = math.min(vec.numElements(), cv.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += vec.getFloat(i).toDouble * cv(i).toDouble
        i += 1
      }
      val d = cn2(c) - 2.0 * acc
      if (d < best) { best = d; bc = c }
      c += 1
    }
    bc
  }

  /** [[NearestCentroidCos]] kernel: argmax-cosine over the full centroid
    * table with the EXACT arithmetic of the literal centroid-score
    * formulation it replaces (`SimilarityOracles.centroidScores`) — dot and ‖v‖² accumulate in sequential
    * double order, cos = dot / (‖v‖ · ‖c‖), winner = first maximum under
    * Spark's double ordering (-0.0 < 0.0 — `Double.compare` is exactly
    * that order). Null for a null element or a length mismatch against
    * the (uniform-dim) table, matching `FloatVectorDot`'s
    * null-propagation through `array_max`/`array_position`; a zero
    * denominator mirrors `Divide` (ANSI abort / non-ANSI null score,
    * which `array_max` ignores — all-null scores yield a null struct). */
  def nearestCentroidCos(vec: ArrayData, cents: Array[Array[Float]],
      cnorm: Array[Double], failOnError: Boolean): InternalRow = {
    val d = cents(0).length
    if (vec.numElements() != d) return null
    var i = 0
    var vn2 = 0.0
    while (i < d) {
      if (vec.isNullAt(i)) return null
      val x = vec.getFloat(i).toDouble
      vn2 += x * x
      i += 1
    }
    val vnorm = math.sqrt(vn2)
    scanCents(vec, vnorm, cents, cnorm, 0, cents.length, null, failOnError)
  }

  /** Shared member scan: first-maximum cosine over cents[from until to)
    * (or an explicit member-index list), folding into a running best.
    * `best` is null or {cell: Int, cos: Double} carried as the result
    * row; the min-index tiebreak on EXACT cos ties makes the fold
    * order-independent, so a pruned scan over probed cells equals the
    * flat scan whenever the true winner's cell is probed. */
  private def scanCents(vec: ArrayData, vnorm: Double,
      cents: Array[Array[Float]], cnorm: Array[Double],
      from: Int, to: Int, members: Array[Int],
      failOnError: Boolean): InternalRow = {
    val d = cents(0).length
    var bestCos = Double.NegativeInfinity
    var bestIdx = -1
    var m = from
    while (m < to) {
      val c = if (members == null) m else members(m)
      val cv = cents(c)
      var acc = 0.0
      var i = 0
      while (i < d) {
        acc += vec.getFloat(i).toDouble * cv(i).toDouble
        i += 1
      }
      val den = vnorm * cnorm(c)
      if (den == 0.0) {
        // mirror Divide exactly: ANSI -> abort; non-ANSI -> NULL score,
        // which array_max IGNORES (the candidate simply cannot win)
        if (failOnError) throw new ArithmeticException(
          "[DIVIDE_BY_ZERO] zero-norm vector or centroid in " +
            "nearest-centroid assignment (mirrors the literal Divide; " +
            "set spark.sql.ansi.enabled=false for null-score semantics)")
      } else {
        val cos = acc / den
        val cmp = java.lang.Double.compare(cos, bestCos)
        if (bestIdx < 0 || cmp > 0 || (cmp == 0 && c < bestIdx)) {
          bestCos = cos; bestIdx = c
        }
      }
      m += 1
    }
    if (bestIdx < 0) null
    else new GenericInternalRow(Array[Any](bestIdx, bestCos))
  }

  /** [[NearestCentroidPruned]] kernel: two-level assignment. Route the
    * vector to its `nProbe` nearest COARSE cells (cosine, same metric as
    * the member scan; zero-norm coarse rows rank last), then first-max
    * scan only those cells' member centroids — O(C + Σ probed members)
    * instead of O(k). nProbe = C is bit-identical to
    * [[nearestCentroidCos]]: the member lists partition 0..k-1, the fold
    * is order-independent (min-index tiebreak on exact ties, null-score
    * candidates skipped identically), and an empty probed member set
    * falls back to the full scan. */
  def nearestCentroidPruned(vec: ArrayData,
      coarse: Array[Array[Float]], coarseNorm: Array[Double],
      members: Array[Array[Int]],
      cents: Array[Array[Float]], cnorm: Array[Double],
      nProbe: Int, failOnError: Boolean): InternalRow = {
    val d = cents(0).length
    if (vec.numElements() != d) return null
    var i = 0
    var vn2 = 0.0
    while (i < d) {
      if (vec.isNullAt(i)) return null
      val x = vec.getFloat(i).toDouble
      vn2 += x * x
      i += 1
    }
    val vnorm = math.sqrt(vn2)
    val nc = coarse.length
    val probes = math.min(nProbe, nc)
    // coarse cosines once
    val ccos = new Array[Double](nc)
    var j = 0
    while (j < nc) {
      val cv = coarse(j)
      var acc = 0.0
      var t = 0
      while (t < d) { acc += vec.getFloat(t).toDouble * cv(t).toDouble; t += 1 }
      val den = vnorm * coarseNorm(j)
      ccos(j) = if (den == 0.0) Double.NegativeInfinity else acc / den
      if (java.lang.Double.isNaN(ccos(j))) ccos(j) = Double.NegativeInfinity
      j += 1
    }
    // O(C·nProbe) selection of the probe list (cos desc, index asc)
    val chosen = new Array[Int](probes)
    val used = new Array[Boolean](nc)
    var p = 0
    var total = 0
    while (p < probes) {
      var bj = -1
      var bcos = Double.NegativeInfinity
      var q = 0
      while (q < nc) {
        if (!used(q) && (bj < 0 || ccos(q) > bcos)) { bj = q; bcos = ccos(q) }
        q += 1
      }
      used(bj) = true
      chosen(p) = bj
      total += members(bj).length
      p += 1
    }
    if (total == 0) return scanCents(vec, vnorm, cents, cnorm, 0, cents.length,
      null, failOnError)
    var best: InternalRow = null
    var bestCos = Double.NegativeInfinity
    var bestIdx = -1
    p = 0
    while (p < probes) {
      val r = scanCents(vec, vnorm, cents, cnorm, 0, members(chosen(p)).length,
        members(chosen(p)), failOnError)
      if (r != null) {
        val c = r.getInt(0)
        val cos = r.getDouble(1)
        val cmp = java.lang.Double.compare(cos, bestCos)
        if (bestIdx < 0 || cmp > 0 || (cmp == 0 && c < bestIdx)) {
          bestCos = cos; bestIdx = c; best = r
        }
      }
      p += 1
    }
    best
  }
}

/**
 * First and second moments of a float-vector column in ONE mergeable
 * aggregation — the input every embedding-postprocessing step (mean
 * centering, PCA, ZCA whitening, all-but-the-top) needs. The buffer is
 * a flat double array [n, Σx (d), Σ xᵢxⱼ upper triangle (d(d+1)/2)] —
 * ~17 KB at d = 64 — updated with a fused multiply-add loop per row, so
 * partial aggregation and map-side combine hold exactly like the
 * KLL/HLL/StructTopK aggregates: the exchange carries ONE buffer per
 * partition no matter the corpus size, and the 64×64 covariance of a
 * 100 TB embedding column is one scan + one 17 KB-per-partition merge.
 *
 * eval emits struct<n, mean array<double>, cov array<double>> with cov
 * the POPULATION covariance upper triangle in row-major (i ≤ j) order:
 * cov[idx(i,j)] = Σxᵢxⱼ/n − mean_i·mean_j. Null vectors are skipped
 * (SQL aggregate convention); a vector of the WRONG length throws —
 * silently skipping it would corrupt the statistics, and a fixed-dim
 * embedding column containing other lengths is upstream corruption.
 * Empty input → null struct.
 */
case class VecMoments(
    child: Expression,
    d: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  require(d >= 1, s"vec_moments needs d >= 1: $d")
  private val triN = d * (d + 1) / 2

  override def prettyName: String = "vec_moments"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mean", ArrayType(DoubleType, containsNull = false)),
    StructField("cov", ArrayType(DoubleType, containsNull = false))))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](1 + d + triN)

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      require(a.numElements() == d,
        s"vec_moments: expected dim $d, got ${a.numElements()} — fixed-dim " +
          "embedding column contains a foreign length (upstream corruption)")
      val x = new Array[Double](d)
      var i = 0
      while (i < d) {
        require(!a.isNullAt(i), s"vec_moments: null element at $i")
        x(i) = a.getFloat(i).toDouble
        i += 1
      }
      b(0) += 1.0
      i = 0
      var t = 1 + d
      while (i < d) {
        b(1 + i) += x(i)
        var j = i
        while (j < d) {
          b(t) += x(i) * x(j)
          j += 1
          t += 1
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: Array[Double], o: Array[Double]): Array[Double] = {
    var i = 0
    while (i < b.length) { b(i) += o(i); i += 1 }
    b
  }

  override def eval(b: Array[Double]): Any = {
    val n = b(0)
    if (n == 0.0) return null
    val mean = new Array[Double](d)
    var i = 0
    while (i < d) { mean(i) = b(1 + i) / n; i += 1 }
    val cov = new Array[Double](triN)
    i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        cov(t) = b(1 + d + t) / n - mean(i) * mean(j)
        j += 1
        t += 1
      }
      i += 1
    }
    val row = new GenericInternalRow(3)
    row.update(0, n.toLong)
    row.update(1, new GenericArrayData(mean))
    row.update(2, new GenericArrayData(cov))
    row
  }

  override def serialize(b: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(b.length * 8)
    b.foreach(bb.putDouble)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(n: Int): VecMoments =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): VecMoments =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): VecMoments =
    copy(child = newChild)
}

/**
 * Per-dimension MEAN of a float-vector column in one mergeable
 * aggregation — the k-means Lloyd-update fold (r20 optimization). The
 * previous update shape exploded every vector into d (group, dim, x)
 * rows and paid TWO hash-aggregate exchanges (per-(group,dim) avg, then
 * a collect_list reassembly) per Lloyd round; this buffer carries
 * [n, Σx₀ … Σx_{d−1}] — one (1+d)-double partial per group per
 * partition into a SINGLE exchange, the [[VecMoments]] posture without
 * the O(d²) covariance triangle. Dimension is inferred from the first
 * vector seen (empty buffer until then), so callers need not thread d.
 * Same sum/count algebra as the exploded avg form — centroids can move
 * at ulp order vs the old shape (summation grouping differs), which the
 * ANN family tolerates by construction: serving correctness never
 * depends on WHICH centroids trained (the `*_full` bridge oracles hold
 * for any centroid set).
 * Null vectors are skipped; a wrong-length vector throws (the
 * [[VecMoments]] corruption contract). Empty input → null.
 */
case class VecMeanAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  override def prettyName: String = "vec_mean"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }

  // empty until the first vector fixes d at 1+d slots: [n, Σx…]
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return b
    val a = v.asInstanceOf[ArrayData]
    val d = a.numElements()
    val buf = if (b.length == 0) new Array[Double](1 + d) else b
    require(buf.length == 1 + d,
      s"$prettyName: expected dim ${buf.length - 1}, got $d — fixed-dim " +
        "vector column contains a foreign length (upstream corruption)")
    buf(0) += 1.0
    var i = 0
    while (i < d) {
      require(!a.isNullAt(i), s"$prettyName: null element at $i")
      buf(1 + i) += a.getFloat(i).toDouble
      i += 1
    }
    buf
  }

  override def merge(b: Array[Double], o: Array[Double]): Array[Double] = {
    if (o.length == 0) return b
    if (b.length == 0) return o.clone()
    require(b.length == o.length,
      s"$prettyName: merging buffers of different dims")
    var i = 0
    while (i < b.length) { b(i) += o(i); i += 1 }
    b
  }

  override def eval(b: Array[Double]): Any = {
    if (b.length == 0 || b(0) == 0.0) return null
    val n = b(0)
    val mean = new Array[Double](b.length - 1)
    var i = 0
    while (i < mean.length) { mean(i) = b(1 + i) / n; i += 1 }
    new GenericArrayData(mean)
  }

  override def serialize(b: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(b.length * 8)
    b.foreach(bb.putDouble)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(n: Int): VecMeanAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): VecMeanAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): VecMeanAgg =
    copy(child = newChild)
}

/**
 * Affine embedding transform y = M·(x − μ) as one native kernel — the
 * projection step of mean centering (M = I, elided), ZCA whitening
 * (M = U·diag(1/√(λ+ε))·Uᵀ) and all-but-the-top (M = I − Σ uₖuₖᵀ). The
 * matrix and mean ride the expression as plain Scala constants (the
 * NearestCentroid convention — NOT a literal array tree, which stalls
 * codegen at large d·d). O(d²) multiply-adds per row (O(d) when
 * center-only), map-only, no shuffle.
 *
 * Emits array<double> (full precision for oracle-checked emission). Null
 * vector → null; wrong length throws (same corruption contract as
 * [[VecMoments]]).
 */
case class VecCenterProject(child: Expression, mean: Seq[Double],
    matrix: Seq[Seq[Double]])
    extends UnaryExpression {
  private val d = mean.length
  require(d >= 1, "vec_center_project: empty mean")
  require(matrix.isEmpty ||
    (matrix.length == d && matrix.forall(_.length == d)),
    s"vec_center_project: matrix must be ${d}x$d or empty")

  @transient private lazy val mu = mean.toArray
  @transient private lazy val m: Array[Array[Double]] =
    matrix.map(_.toArray).toArray // empty => center-only (no null refs in codegen)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_center_project"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.centerProject(v.asInstanceOf[ArrayData], mu, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("cpMean", mu, "double[]")
    val mRef = ctx.addReferenceObj("cpMatrix", m, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.VectorKernels.centerProject($c, $muRef, $mRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Argmax-cosine assignment over a centroid table shipped via
 * `addReferenceObj` — struct<cell:int, cos:double>, the fused form of
 * the literal centroid-score + `array_max` + `array_position` chain
 * used by the k-means / SemDeDup family. Two things the literal chain
 * cannot do at scale: (1) the generated code is ONE kernel call however
 * many centroids there are, where k literal array expressions stall
 * whole-stage codegen past k ≈ 256 (the r12 sweep's named ladder stop);
 * (2) the table lives once per executor as a plain float[][], not k
 * copies of a Literal tree per task. Arithmetic, ordering, and null
 * semantics are bit-identical to the literal chain (see the kernel's
 * scaladoc), so hash-verified consumers can switch freely.
 */
case class NearestCentroidCos(child: Expression, cents: Seq[Seq[Float]],
    cnorm: Seq[Double],
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  extends UnaryExpression {
  require(cents.nonEmpty && cents.length == cnorm.length,
    "NearestCentroidCos: need one ‖c‖ per centroid")
  require(cents.forall(_.length == cents.head.length),
    "NearestCentroidCos: centroid dims must be uniform")
  @transient private lazy val cArr: Array[Array[Float]] = cents.map(_.toArray).toArray
  @transient private lazy val nArr: Array[Double] = cnorm.toArray

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_centroid_cos"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCentroidCos(v.asInstanceOf[ArrayData], cArr, nArr,
      failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("nccCents", cArr, "float[][]")
    val nRef = ctx.addReferenceObj("nccNorm", nArr, "double[]")
    nullSafeCodeGen(ctx, ev, v => s"""
       |${ev.value} = graft.plans.VectorKernels.nearestCentroidCos($v, $cRef, $nRef,
       |  $failOnError);
       |${ev.isNull} = (${ev.value} == null);
       |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * IVF-pruned argmax-cosine assignment — [[NearestCentroidCos]] behind a
 * coarse quantizer over the CENTROID table itself: route to the
 * `nProbe` nearest of C coarse cells, scan only their member centroids.
 * O(C + k·nProbe/C) per row instead of O(k) — sub-linear in k once
 * C ≈ √k, which is what lets assignment keep up when the cell count
 * scales with the corpus (SemDeDup's premise: k grows with N).
 * `nProbe = C` provably degrades to the exact flat scan (the
 * `embed_kmeans_assign_pruned_full` bridge): the member lists partition
 * 0..k-1, the fold is order-independent (min-index tiebreak on exact
 * ties), and the two degenerate cases that could order differently
 * fall back to the flat scan inside the kernel.
 */
case class NearestCentroidPruned(child: Expression,
    coarse: Seq[Seq[Float]], coarseNorm: Seq[Double],
    members: Seq[Seq[Int]],
    cents: Seq[Seq[Float]], cnorm: Seq[Double],
    nProbe: Int,
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  extends UnaryExpression {
  require(coarse.nonEmpty && coarse.length == coarseNorm.length &&
    coarse.length == members.length,
    "NearestCentroidPruned: need one ‖c‖ and one member list per coarse cell")
  require(cents.nonEmpty && cents.length == cnorm.length,
    "NearestCentroidPruned: need one ‖c‖ per centroid")
  require(cents.forall(_.length == cents.head.length) &&
    coarse.forall(_.length == cents.head.length),
    "NearestCentroidPruned: centroid dims must be uniform")
  require({
    val all = members.flatten.sorted
    all == cents.indices.toList
  }, "NearestCentroidPruned: member lists must partition the centroid ids")
  require(nProbe > 0, s"NearestCentroidPruned: nProbe must be positive: $nProbe")

  @transient private lazy val coArr: Array[Array[Float]] = coarse.map(_.toArray).toArray
  @transient private lazy val conArr: Array[Double] = coarseNorm.toArray
  @transient private lazy val mArr: Array[Array[Int]] = members.map(_.toArray).toArray
  @transient private lazy val cArr: Array[Array[Float]] = cents.map(_.toArray).toArray
  @transient private lazy val nArr: Array[Double] = cnorm.toArray

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_centroid_pruned"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCentroidPruned(v.asInstanceOf[ArrayData],
      coArr, conArr, mArr, cArr, nArr, nProbe, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coRef = ctx.addReferenceObj("ncpCoarse", coArr, "float[][]")
    val conRef = ctx.addReferenceObj("ncpCoarseNorm", conArr, "double[]")
    val mRef = ctx.addReferenceObj("ncpMembers", mArr, "int[][]")
    val cRef = ctx.addReferenceObj("ncpCents", cArr, "float[][]")
    val nRef = ctx.addReferenceObj("ncpNorm", nArr, "double[]")
    nullSafeCodeGen(ctx, ev, v => s"""
       |${ev.value} = graft.plans.VectorKernels.nearestCentroidPruned($v,
       |  $coRef, $conRef, $mRef, $cRef, $nRef, $nProbe, $failOnError);
       |${ev.isNull} = (${ev.value} == null);
       |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** struct<n, mean, cov-upper-triangle> of a d-dim float-vector column
    * in one mergeable aggregation ([[VecMoments]]). */
  def vecMoments(vec: Column, d: Int): Column =
    Bridge.column(VecMoments(Bridge.expression(vec), d).toAggregateExpression())

  /** array<double> per-dimension mean of a float-vector column in one
    * mergeable aggregation ([[VecMeanAgg]]) — the Lloyd-update fold. */
  def vecMean(vec: Column): Column =
    Bridge.column(VecMeanAgg(Bridge.expression(vec)).toAggregateExpression())

  /** y = M·(x − μ) per row ([[VecCenterProject]]); empty matrix →
    * center-only. */
  def centerProject(vec: Column, mean: Seq[Double],
      matrix: Seq[Seq[Double]] = Nil): Column =
    Bridge.column(VecCenterProject(Bridge.expression(vec), mean, matrix))

  /** Σ aᵢ·bᵢ in double, sequential order — codegen'd. */
  def dotF(a: Column, b: Column): Column =
    Bridge.column(FloatVectorDot(Bridge.expression(a), Bridge.expression(b)))

  /** Σ_m table[m][codes[m]] in double, subspace order — codegen'd. */
  def pqAdc(codes: Column, table: Column): Column =
    Bridge.column(PqAdcDistance(Bridge.expression(codes), Bridge.expression(table)))

  /** array<long> survivor ids of one cluster's members ([[SemDedupSurvivors]]). */
  def semDedupSurvivors(members: Column, thr: Double): Column =
    Bridge.column(SemDedupSurvivors(Bridge.expression(members), thr))

  /** array<long> of per-table LSH buckets ([[LshBucketSignature]]). */
  def lshBuckets(vec: Column, weights: Seq[Double], tables: Int, bits: Int,
      dim: Int): Column =
    Bridge.column(LshBucketSignature(Bridge.expression(vec), weights,
      tables, bits, dim))

  /** Nearest-centroid id over a literal centroid table
    * ([[NearestCentroid]]); `cn2` = per-centroid ‖c‖². */
  def nearestCentroid(vec: Column, cents: Seq[Seq[Float]],
      cn2: Seq[Double]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(vec), cents, cn2))

  /** struct<cell, cos> argmax-cosine over the full centroid table
    * ([[NearestCentroidCos]]); `cnorm` = per-centroid ‖c‖. */
  def nearestCentroidCos(vec: Column, cents: Seq[Seq[Float]],
      cnorm: Seq[Double]): Column =
    Bridge.column(NearestCentroidCos(Bridge.expression(vec), cents, cnorm))

  /** struct<cell, cos> argmax-cosine through a coarse quantizer
    * ([[NearestCentroidPruned]]); `nProbe = coarse.length` is exact. */
  def nearestCentroidPruned(vec: Column,
      coarse: Seq[Seq[Float]], coarseNorm: Seq[Double], members: Seq[Seq[Int]],
      cents: Seq[Seq[Float]], cnorm: Seq[Double], nProbe: Int): Column =
    Bridge.column(NearestCentroidPruned(Bridge.expression(vec),
      coarse, coarseNorm, members, cents, cnorm, nProbe))

  /** UNQUANTIZED cosine of (int8-dequantized vec, literal query)
    * ([[Int8DequantCosine]]) — callers quantize the emission. */
  def int8DequantCos(vec: Column, query: Seq[Double]): Column =
    Bridge.column(Int8DequantCosine(Bridge.expression(vec), query))
}
