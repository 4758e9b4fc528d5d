package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector math over `array<double>` embedding columns (EXT: similarity
  * search per SURVEY §7.11 north star; no reference analog).
  *
  * Two tiers:
  *  - [[CosineSimilarity]]: a native Catalyst expression — one fused loop
  *    over both arrays, no intermediate array allocation. Summation is
  *    sequential in element order and the result is
  *    dot / (sqrt(na) * sqrt(nb)), the documented formula for oracle
  *    parity.
  *  - builder-function equivalents composed from higher-order builtins
  *    (`zip_with`/`aggregate`) for plans that must stay expression-only.
  */
object VectorFunctions {

  /** cosine(a, b) with sequential accumulation; null if either side is
    * null; 0.0 for zero-norm inputs.
    */
  /** Static kernel shared by interpreted eval and generated Java. */
  def cosineOf(l: ArrayData, r: ArrayData): Double = {
    val a = l.toDoubleArray()
    val b = r.toDoubleArray()
    require(a.length == b.length, s"vector lengths differ: ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      cosineOf(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorFunctions.cosineOf($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
      copy(left = l, right = r)
  }

  def cosine(a: Column, b: Column): Column =
    ColumnOps.toColumn2(CosineSimilarity(_, _))(
      a.cast(ArrayType(DoubleType)), b.cast(ArrayType(DoubleType)))

  /** Static kernel for [[SignedProjection]]: row d of the output is the
    * ascending-index dot of the input with sign row d — the summation
    * order DuckDB's `list_sum(list_transform(range(...), ...))` uses, so
    * projected coordinates match bitwise across engines.
    */
  def signedProjectOf(v: ArrayData, signs: Array[Array[Double]]): ArrayData = {
    val x = v.toDoubleArray()
    val out = new Array[Any](signs.length)
    var d = 0
    while (d < signs.length) {
      val s = signs(d)
      var acc = 0.0
      var i = 0
      while (i < s.length && i < x.length) { acc += x(i) * s(i); i += 1 }
      out(d) = acc
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Johnson-Lindenstrauss sign projection as a native expression: the
    * +-1 matrix rides along as a codegen reference object (a per-stage
    * closure constant — never shuffled, never joined), one fused loop
    * per output coordinate. Cosine is scale-invariant, so the 1/sqrt(d')
    * JL factor is omitted entirely.
    */
  case class SignedProjection(child: Expression, signs: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      signedProjectOf(v.asInstanceOf[ArrayData], signs)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("jlsigns", signs, "double[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFunctions.signedProjectOf($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): SignedProjection =
      copy(child = c)
  }

  def signedProject(a: Column, signs: Array[Array[Double]]): Column =
    ColumnOps.toColumn(SignedProjection(_, signs))(a.cast(ArrayType(DoubleType)))

  // ---------------------------------------------------------------- r13
  // Native kernels for the PQ/ANN hot path (optimization guide §4:
  // higher-order builtins are CodegenFallback — every element pays a
  // lambda invocation plus boxing; profiled ~0.2 ms/row on the PQ
  // encode). Each kernel accumulates in the EXACT element order of the
  // HOF form it replaces (ascending-index left folds), so every double
  // is bit-identical to the composed expression and to the DuckDB
  // oracle's list_sum-over-comprehension replay.

  /** L2-normalize kernel: n = sqrt(fold x*x ascending); all-zero vectors
    * pass through unchanged (same `when(n > 0)` guard as the HOF form). */
  def l2NormalizeOf(v: ArrayData): ArrayData = {
    val x = v.toDoubleArray()
    var n2 = 0.0
    var i = 0
    while (i < x.length) { n2 += x(i) * x(i); i += 1 }
    val n = math.sqrt(n2)
    if (!(n > 0.0)) return v
    val out = new Array[Any](x.length)
    i = 0
    while (i < x.length) { out(i) = x(i) / n; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class L2Normalize(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any = l2NormalizeOf(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorFunctions.l2NormalizeOf($c)")
    override protected def withNewChildInternal(c: Expression): L2Normalize = copy(child = c)
  }

  def l2Normalize(v: Column): Column =
    ColumnOps.toColumn(L2Normalize(_))(v.cast(ArrayType(DoubleType)))

  /** Squared-L2 between a subvector [off, off+ds) of x and centroid c,
    * accumulated in ascending element order (the sqDist fold). */
  private def sqDistAt(x: Array[Double], off: Int, c: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    // same length semantics as slice + zip_with: a short tail zips to
    // the shorter length
    val len = math.min(c.length, math.max(0, x.length - off))
    while (j < len) { val d = x(off + j) - c(j); acc += d * d; j += 1 }
    acc
  }

  /** PQ encode kernel: per subspace the 1-BASED index of the first
    * minimum-distance centroid (array_position(dists, array_min) —
    * first-match tie-break). */
  def pqCodesOf(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val x = v.toDoubleArray()
    val out = new Array[Any](cb.length)
    var i = 0
    while (i < cb.length) {
      val cents = cb(i)
      val off = i * cents(0).length
      var best = Double.PositiveInfinity
      var idx = 0
      var k = 0
      while (k < cents.length) {
        val d = sqDistAt(x, off, cents(k))
        if (d < best) { best = d; idx = k + 1 }
        k += 1
      }
      out(i) = idx
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class PqCodes(child: Expression, codebook: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      pqCodesOf(v.asInstanceOf[ArrayData], codebook)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", codebook, "double[][][]")
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorFunctions.pqCodesOf($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): PqCodes = copy(child = c)
  }

  def pqCodes(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    ColumnOps.toColumn(PqCodes(_, codebook))(v.cast(ArrayType(DoubleType)))

  /** ADC distance-table kernel: subspace i's row holds sqDist to each of
    * its centroids, centroid order preserved. */
  def pqDistTablesOf(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val x = v.toDoubleArray()
    val out = new Array[Any](cb.length)
    var i = 0
    while (i < cb.length) {
      val cents = cb(i)
      val off = i * cents(0).length
      val row = new Array[Any](cents.length)
      var k = 0
      while (k < cents.length) { row(k) = sqDistAt(x, off, cents(k)); k += 1 }
      out(i) = new org.apache.spark.sql.catalyst.util.GenericArrayData(row)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class PqDistTables(child: Expression, codebook: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType =
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
    override def nullSafeEval(v: Any): Any =
      pqDistTablesOf(v.asInstanceOf[ArrayData], codebook)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", codebook, "double[][][]")
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorFunctions.pqDistTablesOf($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): PqDistTables = copy(child = c)
  }

  def pqDistTables(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    ColumnOps.toColumn(PqDistTables(_, codebook))(v.cast(ArrayType(DoubleType)))

  /** ADC lookup-sum kernel: fold of dt[i][codes[i]-1] in subspace order
    * (the aggregate(zip_with(codes, dt, element_at)) fold). */
  def adcSumOf(codes: ArrayData, dt: ArrayData): Double = {
    val m = math.min(codes.numElements(), dt.numElements())
    var acc = 0.0
    var i = 0
    while (i < m) {
      acc += dt.getArray(i).getDouble(codes.getInt(i) - 1)
      i += 1
    }
    acc
  }

  case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(c: Any, t: Any): Any =
      adcSumOf(c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (c, t) => s"graft.functions.VectorFunctions.adcSumOf($c, $t)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcSum =
      copy(left = l, right = r)
  }

  def adcSum(codes: Column, dt: Column): Column =
    ColumnOps.toColumn2(AdcSum(_, _))(codes, dt)

  /** Element-wise difference kernel (the residual zip_with(x - c)). */
  def arraySubOf(l: ArrayData, r: ArrayData): ArrayData = {
    val a = l.toDoubleArray()
    val b = r.toDoubleArray()
    val n = math.min(a.length, b.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = a(i) - b(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class ArraySub(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(l: Any, r: Any): Any =
      arraySubOf(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorFunctions.arraySubOf($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArraySub =
      copy(left = l, right = r)
  }

  def arraySub(a: Column, b: Column): Column =
    ColumnOps.toColumn2(ArraySub(_, _))(
      a.cast(ArrayType(DoubleType)), b.cast(ArrayType(DoubleType)))

  /** Integer dot kernel (r14, guide §4): Σ a(i)·b(i) over int arrays as
    * exact longs, ascending-index accumulation — replaces the
    * interpreted `aggregate(zip_with(a,b,(x,y)=>x.long*y.long),0L,+)`
    * per candidate pair in the SQ scan. Pure integer arithmetic: no
    * float-order discipline needed at all.
    */
  def intDotOf(l: ArrayData, r: ArrayData): Long = {
    val a = l.toIntArray()
    val b = r.toIntArray()
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += a(i).toLong * b(i).toLong; i += 1 }
    acc
  }

  case class IntDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullSafeEval(l: Any, r: Any): Any =
      intDotOf(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorFunctions.intDotOf($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): IntDot =
      copy(left = l, right = r)
  }

  def intDot(a: Column, b: Column): Column =
    ColumnOps.toColumn2(IntDot(_, _))(a, b)

  /** Deterministic random hyperplanes for sign-bit LSH: `nPlanes` x `dim`
    * weights from a seeded RNG (driver-side constant, broadcast as a
    * literal into the plan — no data movement).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  /** Engine-portable sign-LSH planes: component (t,p,d) is +1.0 when the
    * first hex nibble of md5("t:p:d") is even, else -1.0 — Rademacher
    * (+-1) hyperplanes, which for sign-LSH are as good as Gaussian ones
    * (only the projection's sign matters) and make every bucket id
    * reproducible by any engine with an `md5()` builtin. Generated
    * driver-side once and shipped as a plan literal, like
    * [[hyperplanes]].
    */
  def md5SignPlanes(nTables: Int, planesPerTable: Int, dim: Int): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nTables, planesPerTable, dim) { (t, p, d) =>
      md.reset()
      val h = md.digest(s"$t:$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
  }

  /** All per-table sign buckets in ONE fused loop: for `nTables` tables
    * of `planesPerTable` hyperplanes each, returns `array<long>` of
    * bucket ids. A builtin-composed version of this is a ~2000-node
    * expression tree (element_at x planes x dims) that took 25s on 5k
    * rows; this expression is a tight triple loop.
    */
  /** Static kernel for [[SignBuckets]]. */
  def signBucketsOf(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val arr = v.toDoubleArray()
    val out = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      var bucket = 0L
      val tbl = planes(t)
      require(tbl.length <= 63, s"at most 63 planes per table (got ${tbl.length}) — 1L<<j wraps past 63")
      var j = 0
      while (j < tbl.length) {
        val p = tbl(j)
        // same strictness as cosineOf: a silent partial dot would put
        // ragged embeddings in arbitrary buckets
        require(p.length == arr.length,
          s"vector dim ${arr.length} != plane dim ${p.length}")
        var dot = 0.0
        var d = 0
        while (d < p.length) { dot += arr(d) * p(d); d += 1 }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Multi-probe kernel, probing depth `depth`: for each table emit the
    * main bucket followed by the `depth` buckets with the 1st, 2nd, ...,
    * depth-th LOWEST-MARGIN plane bit flipped (the standard single-flip
    * probing order truncated at `depth`) — output layout
    * [t0_main, t0_flip1, ..., t0_flipD, t1_main, ...]. Ties on |dot|
    * break to the lowest plane index, so the probe sequence is
    * deterministic and engine-portable, and the depth-(T+1) probe set is
    * a strict superset of depth-T's (recall is monotone in depth at
    * fixed corpus hashing cost).
    */
  def signBucketsMultiProbeOf(v: ArrayData, planes: Array[Array[Array[Double]]],
      depth: Int): ArrayData = {
    val arr = v.toDoubleArray()
    val out = new Array[Long](planes.length * (depth + 1))
    var t = 0
    while (t < planes.length) {
      val tbl = planes(t)
      require(tbl.length <= 63, s"at most 63 planes per table (got ${tbl.length})")
      require(depth >= 1 && depth <= tbl.length,
        s"probe depth $depth out of range 1..${tbl.length}")
      var bucket = 0L
      val margins = new Array[Double](tbl.length)
      var j = 0
      while (j < tbl.length) {
        val p = tbl(j)
        require(p.length == arr.length,
          s"vector dim ${arr.length} != plane dim ${p.length}")
        var dot = 0.0
        var d = 0
        while (d < p.length) { dot += arr(d) * p(d); d += 1 }
        if (dot >= 0) bucket |= (1L << j)
        margins(j) = math.abs(dot)
        j += 1
      }
      val base = t * (depth + 1)
      out(base) = bucket
      // selection over <= 63 margins, `depth` passes — cheaper than a
      // sort for the depths multi-probe uses (1-4)
      val used = new Array[Boolean](tbl.length)
      var rank = 0
      while (rank < depth) {
        var best = -1
        var bm = Double.PositiveInfinity
        var i = 0
        while (i < tbl.length) {
          if (!used(i) && margins(i) < bm) { bm = margins(i); best = i }
          i += 1
        }
        if (best < 0) {
          // NaN margins (a NaN vector component) compare false against
          // everything — fall back to the lowest unused plane instead of
          // indexing used(-1); pre-depth-T code flipped plane 0 here
          var i2 = 0
          while (best < 0 && i2 < tbl.length) { if (!used(i2)) best = i2; i2 += 1 }
        }
        used(best) = true
        out(base + rank + 1) = bucket ^ (1L << best)
        rank += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class SignBucketsMultiProbe(child: Expression, planes: Array[Array[Array[Double]]],
      depth: Int = 1)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      signBucketsMultiProbeOf(v.asInstanceOf[ArrayData], planes, depth)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[][][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorFunctions.signBucketsMultiProbeOf($c, $ref, $depth)")
    }
    override protected def withNewChildInternal(c: Expression): SignBucketsMultiProbe = copy(child = c)
  }

  def signBucketsMultiProbe(v: Column, planes: Array[Array[Array[Double]]],
      depth: Int = 1): Column =
    ColumnOps.toColumn(SignBucketsMultiProbe(_, planes, depth))(v.cast(ArrayType(DoubleType)))

  case class SignBuckets(child: Expression, planes: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      signBucketsOf(v.asInstanceOf[ArrayData], planes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[][][]")
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorFunctions.signBucketsOf($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): SignBuckets = copy(child = c)
  }

  def signBuckets(v: Column, planes: Array[Array[Array[Double]]]): Column =
    ColumnOps.toColumn(SignBuckets(_, planes))(v.cast(ArrayType(DoubleType)))

  /** Single-table convenience wrapper over [[signBuckets]]. */
  def signBucket(v: Column, planes: Array[Array[Double]]): Column =
    element_at(signBuckets(v, Array(planes)), 1)

  /** planesPerTable for a target MEAN bucket occupancy: with fixed
    * planes the bucket self-join is Θ(n²/2^planes) — at 10x corpus and
    * unchanged planes the sf1 probe measured the near-dup joins going
    * ~100x (BENCH_NOTES round 5), so the plane count must grow with
    * log2(n). p = ceil(log2(ceil(n / targetBucket))), clamped to
    * [1, 20] (2^20 buckets ≈ 1M is plenty; bucket ids are longs).
    *
    * INTEGER bit-length arithmetic, not floating log2: the value is
    * mirrored by the DuckDB oracle (`LENGTH(bin(cells - 1))`), and a
    * float `ceil(log(x)/log(2))` can land on k ± ulp at exact powers of
    * two — a cross-engine off-by-one here silently changes every bucket.
    */
  def planesForOccupancy(n: Long, targetBucket: Int): Int = {
    require(n > 0 && targetBucket > 0, s"need n > 0, targetBucket > 0 (got $n, $targetBucket)")
    val cells = (n + targetBucket - 1) / targetBucket
    val p = if (cells <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)
    math.max(1, math.min(20, p))
  }

  /** Scale-bend plane count: extra planes beyond the constant-occupancy
    * sizing, one per TWO doublings of the corpus past 2^anchor-ish —
    * max(0, (bitLength(n−1) − anchor) / 2). Same integer bit-length
    * discipline as [[planesForOccupancy]] (oracle mirror:
    * `GREATEST(0, (LENGTH(bin(n - 1)) - anchor) // 2)`); halving bucket
    * occupancy every two doublings bends the bucketed near-dup verify
    * from Θ(n) to ~Θ(√n) at a documented recall taper.
    */
  def extraPlanesForScale(n: Long, anchorBits: Int): Int = {
    require(n > 0 && anchorBits >= 1,
      s"need n > 0, anchorBits >= 1 (got $n, $anchorBits)")
    val bitLen = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(0, (bitLen - anchorBits) / 2)
  }
}
