package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over float-vector
  * columns: codegen'd tight loop, no UDF serialization, stays inside
  * whole-stage codegen — the preferred shape for the similarity-search
  * operators (SURVEY §7.4 "custom Expression" row). */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    val fx = isFloat(left); val fy = isFloat(right)
    var i = 0
    while (i < n) {
      val xv: Double = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv: Double = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = if (isFloat(left)) "getFloat" else "getDouble"
    val getY = if (isFloat(right)) "getFloat" else "getDouble"
    // fresh locals: avoid collisions when several instances share a scope
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    val ny = ctx.freshName("ny")
    val i = ctx.freshName("i")
    val xv = ctx.freshName("xv")
    val yv = ctx.freshName("yv")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.$getX($i);
         |  double $yv = (double) $b.$getY($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two symmetric-int8-quantized vectors
  * (`array<tinyint>`). Cosine is SCALE-INVARIANT, so the per-vector
  * quantization scales cancel and the kernel is pure integer dot/norms —
  * ~4× the vectors per byte of scan IO and executor memory versus float32,
  * the standard first lever for ANN at corpus scale. Codegen'd tight loop;
  * exact 64-bit accumulation (127² · dim never overflows a long). */
case class CosineInt8(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(ByteType, _) | BinaryType => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_int8 expects array<tinyint> or binary, got " +
        s"${left.dataType} / ${right.dataType}")
  }

  private def isBinary(e: Expression): Boolean = e.dataType == BinaryType

  override def nullSafeEval(a: Any, b: Any): Any = {
    def len(v: Any, bin: Boolean): Int =
      if (bin) v.asInstanceOf[Array[Byte]].length
      else v.asInstanceOf[ArrayData].numElements()
    def at(v: Any, bin: Boolean, i: Int): Long =
      if (bin) v.asInstanceOf[Array[Byte]](i).toLong
      else v.asInstanceOf[ArrayData].getByte(i).toLong
    val bx = isBinary(left); val by = isBinary(right)
    val n = math.min(len(a, bx), len(b, by))
    var dot = 0L; var nx = 0L; var ny = 0L
    var i = 0
    while (i < n) {
      val xv = at(a, bx, i)
      val yv = at(b, by, i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0L || ny == 0L) 0.0
    else dot / (math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    val ny = ctx.freshName("ny")
    val i = ctx.freshName("i")
    val xv = ctx.freshName("xv")
    val yv = ctx.freshName("yv")
    def lenOf(v: String, bin: Boolean) = if (bin) s"$v.length" else s"$v.numElements()"
    def atOf(v: String, bin: Boolean, idx: String) =
      if (bin) s"(long) $v[$idx]" else s"(long) $v.getByte($idx)"
    val bx = isBinary(left); val by = isBinary(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = java.lang.Math.min(${lenOf(a, bx)}, ${lenOf(b, by)});
         |long $dot = 0L, $nx = 0L, $ny = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xv = ${atOf(a, bx, i)};
         |  long $yv = ${atOf(b, by, i)};
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0L || $ny == 0L) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt((double) $nx) * java.lang.Math.sqrt((double) $ny));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Banded random-hyperplane LSH buckets as ONE codegen'd expression: for
  * each of `nBands` plane families, the sign-bit bucket of the vector
  * against `nPlanes` seeded Gaussian hyperplanes — `array<long>` indexed by
  * band. Replaces nBands×nPlanes interpreted zip_with/aggregate dot-product
  * expressions (higher-order functions don't codegen) with a single tight
  * loop over a flat plane matrix; measured ~2.5× on the near-dup bench at
  * sf0.1. Plane generation is deterministic in (dim, nPlanes, nBands, seed).
  */
case class HyperplaneBuckets(child: Expression, dim: Int, nPlanes: Int,
    nBands: Int, seed: Long)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes must be in [1,62], got $nPlanes")
  require(nBands >= 1, s"nBands must be >= 1, got $nBands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_buckets expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Flat [band][plane][dim] Gaussian matrix; per-band seed keeps bands
    * independent (seed + 7919·band, matching the historical SQL layout). */
  @transient private lazy val planesFlat: Array[Double] = gaussianPlanes()
  // a method, not the initializer: a loop in a `lazy val` initializer runs
  // with `this` on the operand stack, where HotSpot cannot OSR-compile it
  private def gaussianPlanes(): Array[Double] = {
    val out = new Array[Double](nBands * nPlanes * dim)
    var b = 0
    while (b < nBands) {
      val rnd = new scala.util.Random(seed + 7919L * b)
      var j = 0
      while (j < nPlanes * dim) { out(b * nPlanes * dim + j) = rnd.nextGaussian(); j += 1 }
      b += 1
    }
    out
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    val fx = isFloat
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val base = (b * nPlanes + p) * dim
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += planesFlat(base + i) * (if (fx) x.getFloat(i).toDouble else x.getDouble(i))
          i += 1
        }
        if (dot > 0) bucket |= (1L << p)
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("hyperplanes", planesFlat, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    // fresh local names: two instances of this expression may share one
    // whole-stage codegen scope (nullSafeCodeGen only braces the nullable
    // case), so fixed names would collide
    val n = ctx.freshName("n")
    val buckets = ctx.freshName("buckets")
    val bucket = ctx.freshName("bucket")
    val base = ctx.freshName("base")
    val dot = ctx.freshName("dot")
    val b = ctx.freshName("b")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |long[] $buckets = new long[$nBands];
         |for (int $b = 0; $b < $nBands; $b++) {
         |  long $bucket = 0L;
         |  for (int $p = 0; $p < $nPlanes; $p++) {
         |    int $base = ($b * $nPlanes + $p) * $dim;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += $planesRef[$base + $i] * (double) $a.$get($i);
         |    }
         |    if ($dot > 0) $bucket |= (1L << $p);
         |  }
         |  $buckets[$b] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($buckets);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `probes` nearest centroid ids for a vector, ordered by (L2 distance,
  * centroid id) — one codegen'd pass over a flat centroid matrix, replacing
  * per-centroid interpreted zip_with/aggregate distance expressions. The
  * deterministic tie-break (lowest id on equal distance) matches the
  * previous array_sort-on-struct formulation. */
case class NearestCells(child: Expression, cents: Array[Double],
    numCents: Int, dim: Int, probes: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(numCents >= 1 && probes >= 1 && probes <= numCents,
    s"need 1 <= probes <= numCents, got probes=$probes numCents=$numCents")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_cells expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    val fx = isFloat
    val dist = new Array[Double](numCents)
    var c = 0
    while (c < numCents) {
      val base = c * dim
      var d = 0.0
      var i = 0
      while (i < n) {
        val t = cents(base + i) - (if (fx) x.getFloat(i).toDouble else x.getDouble(i))
        d += t * t
        i += 1
      }
      dist(c) = d
      c += 1
    }
    val out = new Array[Int](probes)
    val used = new Array[Boolean](numCents)
    var j = 0
    while (j < probes) {
      var best = -1
      var cc = 0
      while (cc < numCents) {
        if (!used(cc) && (best < 0 || dist(cc) < dist(best))) best = cc
        cc += 1
      }
      used(best) = true
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", cents, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    // fresh locals: avoid collisions when several instances share a scope
    val n = ctx.freshName("n")
    val dist = ctx.freshName("dist")
    val cells = ctx.freshName("cells")
    val used = ctx.freshName("used")
    val best = ctx.freshName("best")
    val base = ctx.freshName("base")
    val d = ctx.freshName("d")
    val t = ctx.freshName("t")
    val c = ctx.freshName("c")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |double[] $dist = new double[$numCents];
         |for (int $c = 0; $c < $numCents; $c++) {
         |  int $base = $c * $dim;
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $t = $centsRef[$base + $i] - (double) $a.$get($i);
         |    $d += $t * $t;
         |  }
         |  $dist[$c] = $d;
         |}
         |int[] $cells = new int[$probes];
         |boolean[] $used = new boolean[$numCents];
         |for (int $j = 0; $j < $probes; $j++) {
         |  int $best = -1;
         |  for (int $c = 0; $c < $numCents; $c++) {
         |    if (!$used[$c] && ($best < 0 || $dist[$c] < $dist[$best])) $best = $c;
         |  }
         |  $used[$best] = true;
         |  $cells[$j] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($cells);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** L2 (Euclidean) norm of a float/double vector — the codegen'd sibling of
  * [[CosineSimilarity]]'s norm loop, replacing the interpreted `aggregate()`
  * higher-order SQL function in scalar norm projections. */
case class VectorNorm(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vector_norm expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val fx = isFloat
    var s = 0.0
    var i = 0
    while (i < n) {
      val v: Double = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    // fresh locals: avoid collisions when several instances share a scope
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val i = ctx.freshName("i")
    val v = ctx.freshName("v")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.$get($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-block query↔sub-centroid dot-product table for product-quantized
  * (PQ) asymmetric scoring: output[b·codes + c] = dot(query_block_b,
  * codebook[b][c]). Computed ONCE per query row (m·codes·subDim = one
  * full-matrix pass), then every corpus code scores with m lookups
  * ([[PqAdcCosine]]) instead of a dim-length dot — the ADC trick of
  * Jégou et al. 2011 (public PQ paper), re-expressed as a codegen'd
  * expression. `codebooks` is flat [b][c][i] → (b·codes + c)·subDim + i. */
case class PqDotTable(child: Expression, codebooks: Array[Double],
    m: Int, codes: Int, subDim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m >= 1 && codes >= 2 && codes <= 256 && subDim >= 1,
    s"pq_dot_table: need m>=1, 2<=codes<=256, subDim>=1; got m=$m codes=$codes subDim=$subDim")
  require(codebooks.length == m * codes * subDim,
    s"pq_dot_table: codebook length ${codebooks.length} != m*codes*subDim")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_dot_table expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val fx = isFloat
    val out = new Array[Double](m * codes)
    var b = 0
    while (b < m) {
      var c = 0
      while (c < codes) {
        val base = (b * codes + c) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val qi = b * subDim + i
          val qv =
            if (qi >= x.numElements()) 0.0
            else if (fx) x.getFloat(qi).toDouble else x.getDouble(qi)
          d += qv * codebooks(base + i)
          i += 1
        }
        out(b * codes + c) = d
        c += 1
      }
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    val out = ctx.freshName("out")
    val b = ctx.freshName("b")
    val c = ctx.freshName("c")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    val base = ctx.freshName("base")
    val qi = ctx.freshName("qi")
    val qv = ctx.freshName("qv")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |double[] $out = new double[$m * $codes];
         |for (int $b = 0; $b < $m; $b++) {
         |  for (int $c = 0; $c < $codes; $c++) {
         |    int $base = ($b * $codes + $c) * $subDim;
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      int $qi = $b * $subDim + $i;
         |      double $qv = $qi >= $a.numElements() ? 0.0 : (double) $a.$get($qi);
         |      $d += $qv * $cbRef[$base + $i];
         |    }
         |    $out[$b * $codes + $c] = $d;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dense matrix × vector product (codegen'd): out[r] = Σ_i M[r·dim+i]·x[i],
  * emitted as `array<float>`. The OPQ pre-rotation of the PQ family
  * applies an ORTHOGONAL `rows = dim` matrix to every vector before
  * block-splitting (Ge et al. 2013, public OPQ paper) — a per-row matvec
  * that must stay inside whole-stage codegen at index-build scale. Also
  * usable as a general projection (`rows < dim`). */
case class MatVecFloat(child: Expression, matrix: Array[Double],
    rows: Int, dim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(rows >= 1 && dim >= 1 && matrix.length == rows * dim,
    s"mat_vec: matrix length ${matrix.length} != rows*dim = ${rows * dim}")

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mat_vec expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val fx = isFloat
    val n = math.min(dim, x.numElements())
    val out = new Array[Float](rows)
    var r = 0
    while (r < rows) {
      var d = 0.0
      var i = 0
      while (i < n) {
        d += matrix(r * dim + i) * (if (fx) x.getFloat(i).toDouble else x.getDouble(i))
        i += 1
      }
      out(r) = d.toFloat
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("matVec", matrix, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    val out = ctx.freshName("out")
    val r = ctx.freshName("r")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    val n = ctx.freshName("n")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |float[] $out = new float[$rows];
         |for (int $r = 0; $r < $rows; $r++) {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $d += $mRef[$r * $dim + $i] * (double) $a.$get($i);
         |  }
         |  $out[$r] = (float) $d;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ asymmetric-distance cosine: given a corpus vector's code
  * (`array<tinyint>`, m entries), the query's [[PqDotTable]] and the
  * query's L2 norm, returns cosine(query, reconstructed corpus vector) =
  * Σ_b table[b·codes + code_b] / (qnorm · ‖x̃‖), with ‖x̃‖² summed from
  * the code-independent per-sub-centroid norm table (a literal). m
  * lookups + adds per scored pair — the 100 TB scoring shape for
  * product-quantized corpora. */
case class PqAdcCosine(first: Expression, second: Expression,
    third: Expression, normSq: Array[Double], m: Int, codes: Int)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  require(normSq.length == m * codes,
    s"pq_adc_cosine: normSq length ${normSq.length} != m*codes")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val codeOk = first.dataType match {
      case ArrayType(ByteType, _) | BinaryType => true
      case _ => false
    }
    val tableOk = second.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val normOk = third.dataType == DoubleType || third.dataType == FloatType
    if (codeOk && tableOk && normOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_adc_cosine expects (array<tinyint>|binary, array<double>, double), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  private def codeIsBinary: Boolean = first.dataType == BinaryType

  override def nullSafeEval(a: Any, b: Any, cArg: Any): Any = {
    val table = b.asInstanceOf[ArrayData]
    val qnorm = cArg match {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case x => x.asInstanceOf[Double]
    }
    def codeAt(i: Int): Int =
      if (codeIsBinary) a.asInstanceOf[Array[Byte]](i) & 0xff
      else a.asInstanceOf[ArrayData].getByte(i) & 0xff
    val n =
      if (codeIsBinary) a.asInstanceOf[Array[Byte]].length
      else a.asInstanceOf[ArrayData].numElements()
    // a wrong-width code means the column and the codebook sidecar come
    // from different builds (different m) — scoring a prefix would return
    // plausible-but-wrong cosines, so fail loudly instead
    if (n != m) throw new IllegalArgumentException(
      s"pq_adc_cosine: code width $n != codebook m=$m — pqcode column and " +
        "codebook sidecar are from different index builds")
    var dot = 0.0
    var ns = 0.0
    var bi = 0
    while (bi < n) {
      val idx = bi * codes + codeAt(bi)
      dot += table.getDouble(idx)
      ns += normSq(idx)
      bi += 1
    }
    if (ns == 0.0 || qnorm == 0.0) 0.0 else dot / (qnorm * math.sqrt(ns))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("pqNormSq", normSq, "double[]")
    val codeLen = if (codeIsBinary) "length" else "numElements()"
    val codeGet = (v: String, i: String) =>
      if (codeIsBinary) s"($v[$i] & 0xff)" else s"($v.getByte($i) & 0xff)"
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val ns = ctx.freshName("ns")
    val bi = ctx.freshName("bi")
    val idx = ctx.freshName("idx")
    val qn = ctx.freshName("qn")
    nullSafeCodeGen(ctx, ev, (a, b, cArg) => {
      s"""
         |int $n = $a.$codeLen;
         |if ($n != $m) throw new IllegalArgumentException(
         |  "pq_adc_cosine: code width " + $n + " != codebook m=" + $m +
         |  " — pqcode column and codebook sidecar are from different index builds");
         |double $dot = 0.0, $ns = 0.0;
         |double $qn = (double) $cArg;
         |for (int $bi = 0; $bi < $n; $bi++) {
         |  int $idx = $bi * $codes + ${codeGet(a, bi)};
         |  $dot += $b.getDouble($idx);
         |  $ns += $nsRef[$idx];
         |}
         |${ev.value} = ($ns == 0.0 || $qn == 0.0) ? 0.0 : $dot / ($qn * java.lang.Math.sqrt($ns));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Residual-PQ ADC cosine (the IVF-PQ refinement: codes quantize
  * x − centroid[cell], so reconstruction is x̃ = c_cell + r̃):
  * cosine(q, x̃) = (dot(q, c_cell) + Σ_b qtab[b·codes + code_b]) /
  * (‖q‖ · ‖x̃‖), with ‖x̃‖² summed per block from the code- AND
  * cell-dependent literal `resNorm2[cell·m·codes + b·codes + j]` =
  * ‖c_cell_b‖² + 2·dot(c_cell_b, cb_b_j) + ‖cb_b_j‖². Five children
  * (code, query dot-table, qnorm, dot(q, c_cell), cell id); still m
  * lookups + adds per scored pair. */
case class PqResidualCosine(code: Expression, qtab: Expression,
    qnorm: Expression, qdotc: Expression, cell: Expression,
    resNorm2: Array[Double], m: Int, codes: Int)
  extends Expression {

  override def children: Seq[Expression] = Seq(code, qtab, qnorm, qdotc, cell)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override lazy val deterministic: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (code.dataType match {
      case ArrayType(ByteType, _) | BinaryType => true
      case _ => false
    }) && (qtab.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && Seq(qnorm, qdotc).forall(e =>
      e.dataType == DoubleType || e.dataType == FloatType) &&
      cell.dataType == IntegerType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_residual_cosine expects (array<tinyint>, array<double>, double, " +
        s"double, int), got ${children.map(_.dataType).mkString(" / ")}")
  }

  private def asD(v: Any): Double = v match {
    case f: java.lang.Float => f.toDouble
    case d: java.lang.Double => d.doubleValue
    case x => x.asInstanceOf[Double]
  }

  private def codeIsBinary: Boolean = code.dataType == BinaryType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val tab = vs(1).asInstanceOf[ArrayData]
    val qn = asD(vs(2))
    val qc = asD(vs(3))
    val cl = vs(4).asInstanceOf[Int]
    def codeAt(i: Int): Int =
      if (codeIsBinary) vs(0).asInstanceOf[Array[Byte]](i) & 0xff
      else vs(0).asInstanceOf[ArrayData].getByte(i) & 0xff
    val len =
      if (codeIsBinary) vs(0).asInstanceOf[Array[Byte]].length
      else vs(0).asInstanceOf[ArrayData].numElements()
    val base = cl * m * codes
    var dot = qc
    var ns = 0.0
    // wrong-width code = column/sidecar from different builds — fail loud
    if (len != m) throw new IllegalArgumentException(
      s"pq_residual_cosine: code width $len != codebook m=$m — pqcode " +
        "column and codebook sidecar are from different index builds")
    val n = len
    var b = 0
    while (b < n) {
      val j = codeAt(b)
      dot += tab.getDouble(b * codes + j)
      ns += resNorm2(base + b * codes + j)
      b += 1
    }
    if (ns <= 0.0 || qn == 0.0) 0.0 else dot / (qn * math.sqrt(ns))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val nsRef = ctx.addReferenceObj("pqResNorm2", resNorm2, "double[]")
    val Seq(e0, e1, e2, e3, e4) = children.map(_.genCode(ctx))
    val dot = ctx.freshName("dot")
    val ns = ctx.freshName("ns")
    val b = ctx.freshName("b")
    val j = ctx.freshName("j")
    val base = ctx.freshName("base")
    val n = ctx.freshName("n")
    val lenExpr =
      if (codeIsBinary) s"${e0.value}.length" else s"${e0.value}.numElements()"
    val getExpr =
      if (codeIsBinary) s"${e0.value}[$b] & 0xff"
      else s"${e0.value}.getByte($b) & 0xff"
    ev.copy(code =
      code"""
        ${e0.code}
        ${e1.code}
        ${e2.code}
        ${e3.code}
        ${e4.code}
        boolean ${ev.isNull} = ${e0.isNull} || ${e1.isNull} || ${e2.isNull} ||
          ${e3.isNull} || ${e4.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          int $base = ((int) ${e4.value}) * $m * $codes;
          double $dot = (double) ${e3.value};
          double $ns = 0.0;
          int $n = $lenExpr;
          if ($n != $m) throw new IllegalArgumentException(
            "pq_residual_cosine: code width " + $n + " != codebook m=" + $m +
            " — pqcode column and codebook sidecar are from different index builds");
          for (int $b = 0; $b < $n; $b++) {
            int $j = $getExpr;
            $dot += ${e1.value}.getDouble($b * $codes + $j);
            $ns += $nsRef[$base + $b * $codes + $j];
          }
          ${ev.value} = ($ns <= 0.0 || (double) ${e2.value} == 0.0)
            ? 0.0 : $dot / ((double) ${e2.value} * java.lang.Math.sqrt($ns));
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(code = newChildren(0), qtab = newChildren(1), qnorm = newChildren(2),
      qdotc = newChildren(3), cell = newChildren(4))
}

/** Sign-bit binary quantization of a float/double vector: bit j of byte
  * j/8 is set when x_j > 0, output is `binary` of ceil(dim/8) bytes —
  * 32× fewer bytes than float32. For centered embeddings the Hamming
  * distance between sign codes estimates the angle (the hyperplane-LSH
  * bound with axis-aligned planes), which is enough to SHORTLIST;
  * ranking quality comes from the exact float rerank
  * ([[graft.ops.Ann.bqTopKIndexed]]). Codegen'd tight loop. */
case class SignPack(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BinaryType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_pack expects array<float|double>, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte]((n + 7) / 8)
    val f = isFloat
    var i = 0
    while (i < n) {
      val v: Double = if (f) x.getFloat(i).toDouble else x.getDouble(i)
      if (v > 0.0) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val n = ctx.freshName("n")
    val out = ctx.freshName("out")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[($n + 7) / 8];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.$get($i) > 0.0) {
         |    $out[$i >> 3] = (byte) ($out[$i >> 3] | (1 << ($i & 7)));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two equal-length binary codes (popcount of
  * the XOR) — the [[SignPack]] shortlist metric. Mismatched widths mean
  * the code column and the probe come from different dims/builds, so the
  * kernel fails loudly (the pq_adc_cosine width-guard convention) rather
  * than scoring a prefix. Codegen'd. */
case class HammingDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hamming_dist expects (binary, binary), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) throw new IllegalArgumentException(
      s"hamming_dist: code widths differ (${x.length} vs ${y.length} bytes)" +
        " — codes are from different dims/builds")
    var d = 0
    var i = 0
    while (i < x.length) {
      d += java.lang.Integer.bitCount((x(i) ^ y(i)) & 0xff)
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.freshName("d")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if ($a.length != $b.length) throw new IllegalArgumentException(
         |  "hamming_dist: code widths differ (" + $a.length + " vs " +
         |  $b.length + " bytes) — codes are from different dims/builds");
         |int $d = 0;
         |for (int $i = 0; $i < $a.length; $i++) {
         |  $d += java.lang.Integer.bitCount(($a[$i] ^ $b[$i]) & 0xff);
         |}
         |${ev.value} = $d;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private def intOf(what: String)(e: Expression): Int = e.eval() match {
    case n: java.lang.Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$what: expected integer literal, got $other")
  }
  private def longOf(what: String)(e: Expression): Long = e.eval() match {
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"$what: expected long literal, got $other")
  }

  /** (name, impl class, builder) of every vector function — shared by the
    * session-level register helpers and [[graft.spark.GraftExtensions]]'
    * config-time injection. Non-vector args must be literals (plane/
    * centroid matrices are baked into the expression at plan time). */
  val descriptions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity],
      (c: Seq[Expression]) => CosineSimilarity(c(0), c(1))),
    ("cosine_int8", classOf[CosineInt8],
      (c: Seq[Expression]) => CosineInt8(c(0), c(1))),
    ("vector_norm", classOf[VectorNorm],
      (c: Seq[Expression]) => VectorNorm(c(0))),
    ("hyperplane_buckets", classOf[HyperplaneBuckets],
      (c: Seq[Expression]) => HyperplaneBuckets(c(0),
        intOf("hyperplane_buckets")(c(1)), intOf("hyperplane_buckets")(c(2)),
        intOf("hyperplane_buckets")(c(3)), longOf("hyperplane_buckets")(c(4)))),
    ("nearest_cells", classOf[NearestCells], (c: Seq[Expression]) => {
      val m = c(1).eval().asInstanceOf[ArrayData]
      val rows = m.numElements()
      require(rows > 0, "nearest_cells: empty centroid matrix")
      val dim = m.getArray(0).numElements()
      val flat = new Array[Double](rows * dim)
      var r = 0
      while (r < rows) {
        val row = m.getArray(r)
        require(row.numElements() == dim, "nearest_cells: ragged centroid matrix")
        var i = 0
        while (i < dim) { flat(r * dim + i) = row.getDouble(i); i += 1 }
        r += 1
      }
      NearestCells(c(0), flat, rows, dim, intOf("nearest_cells")(c(2)))
    }),
    ("pq_dot_table", classOf[PqDotTable], (c: Seq[Expression]) => {
      val mtx = c(1).eval().asInstanceOf[ArrayData]
      val m = intOf("pq_dot_table")(c(2))
      val codes = intOf("pq_dot_table")(c(3))
      val rows = mtx.numElements()
      require(rows == m * codes,
        s"pq_dot_table: codebook matrix has $rows rows, expected m*codes = ${m * codes}")
      val subDim = mtx.getArray(0).numElements()
      val flat = new Array[Double](rows * subDim)
      var r = 0
      while (r < rows) {
        val row = mtx.getArray(r)
        require(row.numElements() == subDim, "pq_dot_table: ragged codebook matrix")
        var i = 0
        while (i < subDim) { flat(r * subDim + i) = row.getDouble(i); i += 1 }
        r += 1
      }
      PqDotTable(c(0), flat, m, codes, subDim)
    }),
    ("mat_vec", classOf[MatVecFloat], (c: Seq[Expression]) => {
      val mtx = c(1).eval().asInstanceOf[ArrayData]
      val rows = mtx.numElements()
      require(rows > 0, "mat_vec: empty matrix")
      val dim = mtx.getArray(0).numElements()
      val flat = new Array[Double](rows * dim)
      var r = 0
      while (r < rows) {
        val row = mtx.getArray(r)
        require(row.numElements() == dim, "mat_vec: ragged matrix")
        var i = 0
        while (i < dim) { flat(r * dim + i) = row.getDouble(i); i += 1 }
        r += 1
      }
      MatVecFloat(c(0), flat, rows, dim)
    }),
    ("pq_adc_cosine", classOf[PqAdcCosine], (c: Seq[Expression]) => {
      val ns = c(3).eval().asInstanceOf[ArrayData].toDoubleArray()
      PqAdcCosine(c(0), c(1), c(2), ns,
        intOf("pq_adc_cosine")(c(4)), intOf("pq_adc_cosine")(c(5)))
    }),
    ("pq_residual_cosine", classOf[PqResidualCosine], (c: Seq[Expression]) => {
      val t = c(5).eval().asInstanceOf[ArrayData].toDoubleArray()
      PqResidualCosine(c(0), c(1), c(2), c(3), c(4), t,
        intOf("pq_residual_cosine")(c(6)), intOf("pq_residual_cosine")(c(7)))
    }),
    ("sign_pack", classOf[SignPack],
      (c: Seq[Expression]) => SignPack(c(0))),
    ("hamming_dist", classOf[HammingDist],
      (c: Seq[Expression]) => HammingDist(c(0), c(1))))

  /** Register every vector function with the session so `expr(...)`/SQL can
    * use them. Idempotent. */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.register(spark, descriptions)

  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("cosine_similarity", a, b)
  }

  /** Cosine over int8-quantized vectors (codegen'd; scales cancel). */
  def cosineInt8(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("cosine_int8", a, b)
  }

  /** Sign-bit binary code of a vector column (codegen'd): `binary` of
    * ceil(dim/8) bytes — the BQ tier's 32× compression. */
  def signPack(spark: SparkSession, emb: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("sign_pack", emb)
  }

  /** Hamming distance between two binary codes (codegen'd popcount). */
  def hammingDist(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("hamming_dist", a, b)
  }

  /** Kept for API stability — registration is all-or-nothing now. */
  def registerBuckets(spark: SparkSession): Unit = register(spark)

  /** Banded LSH bucket array for an embedding column (codegen'd). */
  def hyperplaneBuckets(spark: SparkSession, emb: Column, dim: Int,
      nPlanes: Int, nBands: Int, seed: Long): Column = {
    registerBuckets(spark)
    org.apache.spark.sql.functions.call_function("hyperplane_buckets", emb,
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(nPlanes),
      org.apache.spark.sql.functions.lit(nBands),
      org.apache.spark.sql.functions.lit(seed))
  }

  /** Kept for API stability — registration is all-or-nothing now. */
  def registerNearestCells(spark: SparkSession): Unit = register(spark)

  /** Probe-ordered nearest centroid ids (codegen'd). */
  def nearestCells(spark: SparkSession, emb: Column,
      centroids: Array[Array[Float]], probes: Int): Column = {
    registerNearestCells(spark)
    import org.apache.spark.sql.functions.{array, call_function, lit}
    val matrix = array(centroids.map(c => array(c.map(v => lit(v.toDouble)): _*)): _*)
    call_function("nearest_cells", emb, matrix, lit(probes))
  }

  /** Kept for API stability — registration is all-or-nothing now. */
  def registerNorm(spark: SparkSession): Unit = register(spark)

  /** L2 norm of a vector column (codegen'd). */
  def norm(spark: SparkSession, emb: Column): Column = {
    registerNorm(spark)
    org.apache.spark.sql.functions.call_function("vector_norm", emb)
  }

  /** Dense matrix × vector product (codegen'd) — `matrix(r)(i)` rows, out
    * length = rows, emitted as array<float>. The OPQ rotation hook. */
  def matVec(spark: SparkSession, emb: Column,
      matrix: Array[Array[Float]]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, call_function, lit}
    val mtx = array(matrix.map(r => array(r.map(v => lit(v.toDouble)): _*)): _*)
    call_function("mat_vec", emb, mtx)
  }

  /** PQ query dot-table over `codebooks(b)(c)(i)` (codegen'd). */
  def pqDotTable(spark: SparkSession, emb: Column,
      codebooks: Array[Array[Array[Float]]]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, call_function, lit}
    val m = codebooks.length
    val codes = codebooks(0).length
    val matrix = array(codebooks.flatten.map(row =>
      array(row.map(v => lit(v.toDouble)): _*)): _*)
    call_function("pq_dot_table", emb, matrix, lit(m), lit(codes))
  }

  /** Residual-PQ ADC cosine (codegen'd): codes quantize x − centroid[cell],
    * so the reconstruction-norm table is per (cell, block, code) — derived
    * here from the same centroids + codebooks the caller probes with. */
  def pqResidualCosine(spark: SparkSession, code: Column, qtab: Column,
      qnorm: Column, qdotc: Column, cell: Column,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, call_function, lit}
    val m = codebooks.length
    val codes = codebooks(0).length
    val subDim = codebooks(0)(0).length
    val resNorm2 = new Array[Double](centroids.length * m * codes)
    var cl = 0
    while (cl < centroids.length) {
      var b = 0
      while (b < m) {
        val cb = centroids(cl).slice(b * subDim, (b + 1) * subDim)
        val cn = cb.map(x => x.toDouble * x).sum
        var j = 0
        while (j < codes) {
          val r = codebooks(b)(j)
          var dot = 0.0
          var rn = 0.0
          var i = 0
          while (i < subDim) {
            dot += cb(i).toDouble * r(i)
            rn += r(i).toDouble * r(i)
            i += 1
          }
          resNorm2(cl * m * codes + b * codes + j) = cn + 2.0 * dot + rn
          j += 1
        }
        b += 1
      }
      cl += 1
    }
    call_function("pq_residual_cosine", code, qtab, qnorm, qdotc, cell,
      array(resNorm2.map(lit): _*), lit(m), lit(codes))
  }

  /** PQ ADC cosine of (corpus code, query dot-table, query norm)
    * (codegen'd); the per-sub-centroid squared norms derive from the same
    * codebooks. */
  def pqAdcCosine(spark: SparkSession, code: Column, table: Column,
      qnorm: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, call_function, lit}
    val m = codebooks.length
    val codes = codebooks(0).length
    val normSq = array(codebooks.flatten.map(row =>
      lit(row.map(v => v.toDouble * v).sum)): _*)
    call_function("pq_adc_cosine", code, table, qnorm, normSq, lit(m), lit(codes))
  }
}
