// Catalyst extension expressions live under org.apache.spark.sql (the
// same convention Sedona / spark-nlp use) because ExpectsInputTypes and
// the Column<->Expression bridge are private[sql] in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for vector math over `Array[Float]` columns.
  *
  * The reference ships a Python `cosine_distance` builtin over its `vector`
  * type (andb/catalog/buitin_functions.py:3-12, andb/catalog/type.py:237).
  * Here the same semantics compile into whole-stage codegen: a tight Java
  * loop over the parquet-decoded float array — no boxing, no Scala UDF
  * call boundary, SIMD-friendly. At 100 TB the vector kernels are the
  * innermost loop of every ANN/dedup scan, so staying inside codegen is
  * the difference between compute-bound and allocation-bound.
  */
object VectorExpressions {

  /** dot / norms accumulated in double (float inputs), one pass.
    * Length-mismatched inputs yield NULL (a truncated min-length cosine is
    * never the intended semantics and would silently disagree with the
    * [[graft.plans.NormalizeConstantCosine]] rewrite, whose norms span the
    * full vectors — both paths agree on the null-on-mismatch contract). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_cosine"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) null
      else {
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < n) {
          val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
          dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
        }
        if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
        s"""
          int $n = $x.numElements();
          if ($n != $y.numElements()) {
            ${ev.isNull} = true;
          } else {
            double $dot = 0.0, $nx = 0.0, $ny = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              double $xi = (double) $x.getFloat($i);
              double $yi = (double) $y.getFloat($i);
              $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
            }
            ${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
          }
        """
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
        s"""
          int $n = $x.numElements() < $y.numElements() ? $x.numElements() : $y.numElements();
          double $dot = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += (double) $x.getFloat($i) * (double) $y.getFloat($i);
          }
          ${ev.value} = $dot;
        """
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Cosine against a CONSTANT vector, fused: ONE loop per row computing
    * dot(x,c) and ‖x‖² together, with ‖c‖ folded at construction. This is
    * what [[graft.plans.NormalizeConstantCosine]] rewrites to — the
    * dot/l2norm composition it previously produced re-ran separate loops
    * per occurrence (no reliable CSE inside If branches), which measured
    * ~2.5× slower on the IVF argmax (16 constants × one row vector).
    * Semantics identical to CosineSimilarity: length mismatch → null,
    * zero norm (either side) → 0.0. The constant is held as Seq so equal
    * rewrites canonicalize equal; codegen passes it (and ‖c‖) through
    * `references`, so the generated source is the same for every vector. */
  case class CosineVsConstant(child: Expression, vec: Seq[Float])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_cosine_const"

    @transient private lazy val arr: Array[Float] = vec.toArray
    @transient private lazy val cNorm: Double =
      math.sqrt(arr.foldLeft(0.0)((s, v) => s + v.toDouble * v))

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      if (x.numElements() != arr.length) null
      else {
        var dot = 0.0; var nx = 0.0; var i = 0
        while (i < arr.length) {
          val xi = x.getFloat(i).toDouble
          dot += xi * arr(i); nx += xi * xi; i += 1
        }
        if (nx == 0.0 || cNorm == 0.0) 0.0 else dot / (math.sqrt(nx) * cNorm)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val c = ctx.addReferenceObj("cvec", arr, "float[]")
        // ‖c‖ reaches the class through `references` too, never as a
        // spliced double constant, so every query vector of one plan
        // shape shares one compiled class.
        val normRef = ctx.addReferenceObj("cnorm", cNorm, "java.lang.Double")
        val cn = ctx.addMutableState("double", "cnorm",
          v => s"$v = $normRef.doubleValue();", forceInline = true)
        val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
        val nx = ctx.freshName("nx"); val xi = ctx.freshName("xi")
        s"""
          if ($x.numElements() != $c.length) {
            ${ev.isNull} = true;
          } else {
            double $dot = 0.0, $nx = 0.0;
            for (int $i = 0; $i < $c.length; $i++) {
              double $xi = (double) $x.getFloat($i);
              $dot += $xi * (double) $c[$i]; $nx += $xi * $xi;
            }
            ${ev.value} = ($nx == 0.0 || $cn == 0.0) ? 0.0
              : $dot / (java.lang.Math.sqrt($nx) * $cn);
          }
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class L2Norm(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_l2norm"

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var s = 0.0; var i = 0
      while (i < x.numElements()) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
      math.sqrt(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val i = ctx.freshName("i"); val s = ctx.freshName("s"); val v = ctx.freshName("v")
        s"""
          double $s = 0.0;
          for (int $i = 0; $i < $x.numElements(); $i++) {
            double $v = (double) $x.getFloat($i); $s += $v * $v;
          }
          ${ev.value} = java.lang.Math.sqrt($s);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Random-hyperplane LSH signature: `bits` sign-bits of dot products
    * against deterministic pseudo-random hyperplanes (hash-derived, so the
    * same signature is computed identically on every executor with zero
    * broadcast state). Bit b of the result = sign(sum_i h(b,i) * x_i)
    * where h is a cheap integer mix mapped to [-0.5, 0.5). */
  case class HyperplaneSignature(child: Expression, bits: Int, seedOffset: Int = 0)
      extends UnaryExpression with ExpectsInputTypes {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    require(seedOffset >= 0, "seedOffset must be >= 0")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "graft_hyperplane_sig"

    @inline private def mix(b0: Int, i: Int): Double = {
      val b = b0 + seedOffset
      var z = b.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var sig = 0L; var b = 0
      while (b < bits) {
        var s = 0.0; var i = 0
        while (i < x.numElements()) { s += mix(b, i) * x.getFloat(i); i += 1 }
        if (s >= 0) sig |= (1L << b)
        b += 1
      }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val b = ctx.freshName("b"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
        val z = ctx.freshName("z"); val sig = ctx.freshName("sig")
        s"""
          long $sig = 0L;
          for (int $b = 0; $b < $bits; $b++) {
            double $s = 0.0;
            for (int $i = 0; $i < $x.numElements(); $i++) {
              long $z = (long) ($b + $seedOffset) * 0x9E3779B97F4A7C15L + (long) $i * 0xC2B2AE3D27D4EB4FL;
              $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
              $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
              $z = $z ^ ($z >>> 31);
              $s += (($z >>> 11) / (double) (1L << 53) - 0.5) * $x.getFloat($i);
            }
            if ($s >= 0) $sig |= (1L << $b);
          }
          ${ev.value} = $sig;
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Product-quantization encode: split the vector into `m` equal
    * subvectors, assign each to its nearest (L2) centroid among `ksub`
    * per-subspace centroids, and pack the `m` code bytes into ONE long
    * (code j in bits [8j, 8j+8)). The codebook is tiny model state
    * (m·ksub·subDim floats) embedded as a codegen reference — the 100 TB
    * point: the corpus afterwards travels as 8-byte codes (32× smaller
    * than a 64-float embedding), and ADC scans read codes, not vectors.
    *
    * `books` layout: ((j·ksub)+c)·subDim + t. Held as Seq so structurally
    * equal expressions are semanticEquals (array params break CSE — see
    * the Array[Byte] lesson in round 3). Length-mismatched input → null. */
  case class PqEncode(child: Expression, books: Seq[Float], m: Int, ksub: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(m >= 1 && m <= 8, "m must be in [1, 8] (8-bit codes packed into one long)")
    require(ksub >= 1 && ksub <= 256, "ksub must fit an 8-bit code")
    require(books.nonEmpty && books.length % (m * ksub) == 0,
      s"codebook length ${books.length} must be a multiple of m*ksub = ${m * ksub}")
    private val subDim: Int = books.length / (m * ksub)

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_encode"

    @transient private lazy val arr: Array[Float] = books.toArray

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      if (x.numElements() != m * subDim) null
      else {
        var codes = 0L; var j = 0
        while (j < m) {
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < ksub) {
            var dist = 0.0; var t = 0
            val base = (j * ksub + c) * subDim
            while (t < subDim) {
              val diff = x.getFloat(j * subDim + t).toDouble - arr(base + t)
              dist += diff * diff; t += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          codes |= best.toLong << (8 * j); j += 1
        }
        codes
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val bk = ctx.addReferenceObj("pqbooks", arr, "float[]")
        val j = ctx.freshName("j"); val c = ctx.freshName("c"); val t = ctx.freshName("t")
        val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
        val dist = ctx.freshName("dist"); val diff = ctx.freshName("diff")
        val base = ctx.freshName("base"); val codes = ctx.freshName("codes")
        s"""
          if ($x.numElements() != ${m * subDim}) {
            ${ev.isNull} = true;
          } else {
            long $codes = 0L;
            for (int $j = 0; $j < $m; $j++) {
              int $best = 0; double $bestD = Double.MAX_VALUE;
              for (int $c = 0; $c < $ksub; $c++) {
                double $dist = 0.0;
                int $base = ($j * $ksub + $c) * $subDim;
                for (int $t = 0; $t < $subDim; $t++) {
                  double $diff = (double) $x.getFloat($j * $subDim + $t) - (double) $bk[$base + $t];
                  $dist += $diff * $diff;
                }
                if ($dist < $bestD) { $bestD = $dist; $best = $c; }
              }
              $codes |= ((long) $best) << (8 * $j);
            }
            ${ev.value} = $codes;
          }
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Asymmetric-distance cosine over PQ codes: approximate
    * cos(q, x) ≈ Σ_j dot(q_j, c_{j,code_j}) / sqrt(Σ_j ‖c_{j,code_j}‖²)
    * (‖q‖ is constant across rows and cancels in the ranking). Both
    * lookup tables are m·ksub doubles computed ONCE on the driver from
    * the query — per row this is m table lookups and one sqrt, no float
    * array ever touched. Zero reconstruction norm → 0.0 (matches
    * CosineSimilarity's zero-vector contract). */
  case class PqAdcCosine(child: Expression, dotLut: Seq[Double], nrmLut: Seq[Double],
      m: Int, ksub: Int) extends UnaryExpression with ExpectsInputTypes {
    require(dotLut.length == m * ksub && nrmLut.length == m * ksub,
      s"LUTs must be m*ksub = ${m * ksub} entries")
    override def inputTypes: Seq[AbstractDataType] =
      Seq(org.apache.spark.sql.types.LongType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_pq_adc"

    @transient private lazy val dArr: Array[Double] = dotLut.toArray
    @transient private lazy val nArr: Array[Double] = nrmLut.toArray

    override protected def nullSafeEval(a: Any): Any = {
      val codes = a.asInstanceOf[Long]
      var sdot = 0.0; var snrm = 0.0; var j = 0
      while (j < m) {
        val c = ((codes >>> (8 * j)) & 0xFF).toInt
        sdot += dArr(j * ksub + c); snrm += nArr(j * ksub + c); j += 1
      }
      if (snrm == 0.0) 0.0 else sdot / math.sqrt(snrm)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, codes => {
        val d = ctx.addReferenceObj("pqdotlut", dArr, "double[]")
        val nr = ctx.addReferenceObj("pqnrmlut", nArr, "double[]")
        val j = ctx.freshName("j"); val c = ctx.freshName("c")
        val sdot = ctx.freshName("sdot"); val snrm = ctx.freshName("snrm")
        s"""
          double $sdot = 0.0, $snrm = 0.0;
          for (int $j = 0; $j < $m; $j++) {
            int $c = (int) (($codes >>> (8 * $j)) & 0xFFL);
            $sdot += $d[$j * $ksub + $c]; $snrm += $nr[$j * $ksub + $c];
          }
          ${ev.value} = ($snrm == 0.0) ? 0.0 : $sdot / java.lang.Math.sqrt($snrm);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column-level API ------------------------------------------------
  private def mk(e: Expression): Column = ExpressionUtils.column(e)
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)

  def cosine(a: Column, b: Column): Column = mk(CosineSimilarity(ex(a), ex(b)))
  def dot(a: Column, b: Column): Column = mk(DotProduct(ex(a), ex(b)))
  def l2norm(a: Column): Column = mk(L2Norm(ex(a)))
  def hyperplaneSig(a: Column, bits: Int): Column = mk(HyperplaneSignature(ex(a), bits))
  def hyperplaneSig(a: Column, bits: Int, seedOffset: Int): Column =
    mk(HyperplaneSignature(ex(a), bits, seedOffset))
  def pqEncode(a: Column, books: Seq[Float], m: Int, ksub: Int): Column =
    mk(PqEncode(ex(a), books, m, ksub))
  def pqAdcCosine(codes: Column, dotLut: Seq[Double], nrmLut: Seq[Double],
      m: Int, ksub: Int): Column = mk(PqAdcCosine(ex(codes), dotLut, nrmLut, m, ksub))
}
