package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with `doGenCode`) for the hot kernels
  * of the dedup / similarity surface. Two design goals:
  *
  *  1. **Scale**: each kernel is a single JIT-compiled pass per row,
  *     inside whole-stage codegen — no `explode` blow-up, no 64-wide
  *     aggregate buffers, no boxed `Seq` UDF conversions. A MinHash
  *     signature that previously needed per-shingle row explosion +
  *     64 min-aggregates (one shuffle) is now one projection.
  *  2. **Cross-engine determinism**: all hashing is exact integer
  *     arithmetic (polynomial rolling hash over a 31-bit Mersenne
  *     prime) and all float reductions are sequential left-to-right
  *     IEEE-754 doubles — so every result is reproducible bit-for-bit
  *     by any engine (the DuckDB oracles replicate them in SQL).
  *     Production swap-in of xxhash64 would only change the constants.
  *
  * Reference analog: the reference's only custom kernels are its
  * geometry ops (`/root/reference/il_analysis_git.py:97-99`); this
  * file is the engine's extension surface for the LLM-pipeline tier.
  */
object Poly {
  val Mod: Long = (1L << 31) - 1 // 2^31-1, Mersenne prime
  val Base: Long = 131L
  val Base2: Long = 137L

  def hashBytes(bytes: Array[Byte], base: Long): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * base + (bytes(i) & 0xFFL)) % Mod
      i += 1
    }
    h
  }
}

/** Polynomial rolling hash of a string's bytes:
  * `h = fold(0, (acc, b) => (acc*base + b) mod (2^31-1))`.
  * ASCII-safe twin of DuckDB's
  * `list_reduce(... ascii(c) ..., (a,b) -> (a*base+b) % 2147483647)`. */
case class PolyHash(child: Expression, base: Long) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any =
    Poly.hashBytes(input.asInstanceOf[UTF8String].getBytes, base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * ${base}L + ($bytes[$i] & 0xFFL)) % ${Poly.Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Morton (Z-order) interleave of the low `bits` bits of two
  * non-negative longs: x's bit b lands at z-bit 2b, y's at 2b+1 —
  * the space-filling-curve key that makes ONE sorted / range-split
  * layout cluster BOTH dimensions at once, so a 100 TB scan prunes
  * files on either column's predicate (`q_zorder_layout`). Pure bit
  * arithmetic, codegen'd; the DuckDB oracle replays it with a
  * `list_transform(range(0, bits), …)` shift-or fold. */
case class MortonInterleave(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "morton_interleave"

  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val xv = x.asInstanceOf[Long]
    val yv = y.asInstanceOf[Long]
    var z = 0L
    var b = 0
    while (b < bits) {
      z |= ((xv >> b) & 1L) << (2 * b)
      z |= ((yv >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val z = ctx.freshName("z")
      val b = ctx.freshName("b")
      s"""
         |long $z = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  $z |= (($x >> $b) & 1L) << (2 * $b);
         |  $z |= (($y >> $b) & 1L) << (2 * $b + 1);
         |}
         |${ev.value} = $z;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonInterleave =
    copy(left = newLeft, right = newRight)
}

/** 64-wide MinHash signature of an `array<string>` shingle set, in one
  * pass: per shingle one polynomial base hash, then
  * `sig[k] = min((a_k·h + b_k) mod M)`. Empty arrays yield the
  * all-`M` sentinel signature. Output `array<long>` (length = #perms).
  *
  * Replaces the explode + 64-min-aggregate formulation: same result
  * rows, but zero shuffle and ~64× fewer expression evaluations
  * (the per-shingle base hash is computed once, not per permutation
  * via separate column trees). */
case class MinHashSig(child: Expression, permA: Seq[Long], permB: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  require(permA.length == permB.length)
  private lazy val aArr = permA.toArray
  private lazy val bArr = permB.toArray
  private val n = permA.length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(n)(Poly.Mod)
    var j = 0
    val m = arr.numElements()
    while (j < m) {
      val h = Poly.hashBytes(arr.getUTF8String(j).getBytes, Poly.Base)
      var k = 0
      while (k < n) {
        val v = (aArr(k) * h + bArr(k)) % Poly.Mod
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("permA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("permB", bArr, "long[]")
      val sig = ctx.freshName("sig")
      val j = ctx.freshName("j")
      val bs = ctx.freshName("bs")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$n];
         |java.util.Arrays.fill($sig, ${Poly.Mod}L);
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  byte[] $bs = $c.getUTF8String($j).getBytes();
         |  long $h = 0L;
         |  for (int $i = 0; $i < $bs.length; $i++) {
         |    $h = ($h * ${Poly.Base}L + ($bs[$i] & 0xFFL)) % ${Poly.Mod}L;
         |  }
         |  for (int $k = 0; $k < $n; $k++) {
         |    long $v = ($aRef[$k] * $h + $bRef[$k]) % ${Poly.Mod}L;
         |    if ($v < $sig[$k]) $sig[$k] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** SimHash fingerprint of an `array<string>` token list, one pass.
  *
  * Bit layout: positions 0..30 take their sign bit from polynomial
  * hash base 131, positions 31..61 from base 137 (31 usable bits per
  * hash — values are < 2^31); positions 62-63 are structurally zero.
  * Hamming distances are unaffected by the two dead bits, and every
  * bit is reproducible in SQL with exact integer arithmetic.
  *
  * Replaces the explode + 64 conditional-sum aggregate formulation
  * (the round-1 bench's slowest query at 35 s → sub-second). */
case class SimHash64(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = new Array[Long](62)
    var j = 0
    val m = arr.numElements()
    while (j < m) {
      val bs = arr.getUTF8String(j).getBytes
      val h1 = Poly.hashBytes(bs, Poly.Base)
      val h2 = Poly.hashBytes(bs, Poly.Base2)
      var k = 0
      while (k < 31) {
        cnt(k) += (if (((h1 >> k) & 1L) == 1L) 1 else -1)
        cnt(31 + k) += (if (((h2 >> k) & 1L) == 1L) 1 else -1)
        k += 1
      }
      j += 1
    }
    var fp = 0L
    var k = 0
    while (k < 62) {
      if (cnt(k) > 0) fp |= (1L << k)
      k += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val j = ctx.freshName("j")
      val bs = ctx.freshName("bs")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val fp = ctx.freshName("fp")
      s"""
         |long[] $cnt = new long[62];
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  byte[] $bs = $c.getUTF8String($j).getBytes();
         |  long $h1 = 0L; long $h2 = 0L;
         |  for (int $i = 0; $i < $bs.length; $i++) {
         |    long b = $bs[$i] & 0xFFL;
         |    $h1 = ($h1 * ${Poly.Base}L + b) % ${Poly.Mod}L;
         |    $h2 = ($h2 * ${Poly.Base2}L + b) % ${Poly.Mod}L;
         |  }
         |  for (int $k = 0; $k < 31; $k++) {
         |    $cnt[$k] += ((($h1 >> $k) & 1L) == 1L) ? 1 : -1;
         |    $cnt[31 + $k] += ((($h2 >> $k) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $k = 0; $k < 62; $k++) {
         |  if ($cnt[$k] > 0) $fp |= (1L << $k);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Dot product of two `array<float>` columns in doubles, sequential
  * left-to-right (IEEE-identical to DuckDB's
  * `list_reduce(list_prepend(0.0, list_transform(...)), +)`).
  * No boxing: reads primitive floats straight out of ArrayData
  * (a `Seq[Float]` UDF converts + boxes every element per call). */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Dot product of an `array<float>` column with an `array<double>`
  * column (the k-means centroid side is double-precision: quantized
  * integer thousandths divided by 1000.0), sequential left-to-right
  * doubles like [[VecDot]]. */
case class VecDotD(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot_d"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotD =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an `array<float>` column: sqrt of the sequential
  * sum of squares in doubles. */
case class VecNorm(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  double $v = (double) $c.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** Nearest-centroid id of an `array<float>` embedding over a
  * DRIVER-HELD centroid matrix, as one codegen'd projection per row.
  *
  * This is the scale fix for ANN coarse assignment: the former
  * `crossJoin(broadcast(cents)).groupBy(vec_id).agg(max_by(...))`
  * formulation materialized N·C scored rows and then hash-partitioned
  * ALL N corpus rows — embeddings included — to aggregate the argmax
  * (at 10B×768-d, a ~30 TB shuffle per assignment, once per Lloyd
  * round in training). Here the centroid matrix (tiny by quantizer
  * design: C×Dim) rides into codegen as a reference object, so
  * assignment is a pure map over the corpus scan — ZERO Exchange.
  *
  * Bit-identical to the aggregate formulation (so the DuckDB oracles
  * are unchanged): score_c = seqdot(emb, cvec_c) / (norm · cnorm_c)
  * with sequential left-to-right double accumulation; the scan runs
  * in ascending-cid order with a strict `>` update, which reproduces
  * `max_by(cid, struct(score, -cid))`'s tie-break to the smallest cid.
  * Callers whose score has no own-norm factor pass `norm = lit(1.0)`
  * (IEEE: `1.0 * x == x` exactly). float→double widening is exact, so
  * holding float centroids as doubles changes no bit. */
case class VecNearestCid(emb: Expression, norm: Expression,
    cids: Seq[Long], cvecs: Seq[Seq[Double]], cnorms: Seq[Double])
    extends BinaryExpression {
  require(cids.nonEmpty && cids.length == cvecs.length && cids.length == cnorms.length,
    "centroid arrays must be non-empty and parallel")
  require(cids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "cids must be strictly ascending (tie-break contract)")

  override def left: Expression = emb
  override def right: Expression = norm
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_nearest_cid"

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val cvecArr: Array[Array[Double]] = cvecs.map(_.toArray).toArray
  @transient private lazy val cnormArr: Array[Double] = cnorms.toArray

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val nv = b.asInstanceOf[Double]
    var bestCid = cidArr(0)
    var bestScore = Double.NegativeInfinity
    var first = true
    var c = 0
    while (c < cidArr.length) {
      val cv = cvecArr(c)
      val m = math.min(x.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < m) { s += x.getFloat(i).toDouble * cv(i); i += 1 }
      val score = s / (nv * cnormArr(c))
      if (first || score > bestScore) { first = false; bestScore = score; bestCid = cidArr(c) }
      c += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cidsRef = ctx.addReferenceObj("cids", cidArr, "long[]")
      val cvecsRef = ctx.addReferenceObj("cvecs", cvecArr, "double[][]")
      val cnormsRef = ctx.addReferenceObj("cnorms", cnormArr, "double[]")
      val bestCid = ctx.freshName("bestCid")
      val bestScore = ctx.freshName("bestScore")
      val firstF = ctx.freshName("first")
      val c = ctx.freshName("c")
      val cv = ctx.freshName("cv")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val score = ctx.freshName("score")
      s"""
         |long $bestCid = $cidsRef[0];
         |double $bestScore = Double.NEGATIVE_INFINITY;
         |boolean $firstF = true;
         |for (int $c = 0; $c < $cidsRef.length; $c++) {
         |  double[] $cv = $cvecsRef[$c];
         |  int $m = java.lang.Math.min($a.numElements(), $cv.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $s += ((double) $a.getFloat($i)) * $cv[$i];
         |  }
         |  double $score = $s / ($b * $cnormsRef[$c]);
         |  if ($firstF || $score > $bestScore) {
         |    $firstF = false; $bestScore = $score; $bestCid = $cidsRef[$c];
         |  }
         |}
         |${ev.value} = $bestCid;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecNearestCid =
    copy(emb = newLeft, norm = newRight)
}

/** Product-quantization code assignment: split a Dim-d `array<float>`
  * embedding into `m` contiguous subvectors and map each to the index
  * of its nearest codeword (L2) in that subspace's codebook — one
  * codegen'd projection per row over the DRIVER-HELD codebook.
  *
  * This is the 100 TB ANN memory path: the `m` small-int codes replace
  * the float vector in the search index (64×4 bytes → 8 bytes here, a
  * 32× compression), and scoring against a query becomes `m` table
  * lookups ([[VecPqAdc]]) instead of Dim multiplies. Like
  * [[VecNearestCid]], assignment is a pure map over the corpus scan —
  * ZERO Exchange, no N·K row blow-up.
  *
  * Determinism contract (the DuckDB oracle replicates it): distances
  * are sequential left-to-right double accumulations of
  * `(x_i − c_i)²` (float→double widening is exact), the codeword scan
  * is ascending-k with a strict `<` update — ties break to the
  * smallest code, same as `ROW_NUMBER() OVER (ORDER BY dist, k)`.
  * Components past the embedding's length read as 0 (never hit on
  * fixed-Dim data). Output `array<long>`, length m. */
case class VecPqCodes(child: Expression, codebook: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
    "codebook must have >=1 subspace with >=1 codeword")
  private val m = codebook.length
  private val subDim = codebook.head.head.length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_pq_codes"

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebook.map(_.map(_.toArray).toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val codes = new Array[Long](m)
    var mi = 0
    while (mi < m) {
      val off = mi * subDim
      val cws = cbArr(mi)
      var best = 0
      var bestD = Double.PositiveInfinity
      var k = 0
      while (k < cws.length) {
        val cw = cws(k)
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val xi = if (off + i < n) x.getFloat(off + i).toDouble else 0.0
          val diff = xi - cw(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      codes(mi) = best.toLong
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cbRef = ctx.addReferenceObj("pqcb", cbArr, "double[][][]")
      val codes = ctx.freshName("codes")
      val n = ctx.freshName("n")
      val mi = ctx.freshName("mi")
      val off = ctx.freshName("off")
      val cws = ctx.freshName("cws")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val k = ctx.freshName("k")
      val cw = ctx.freshName("cw")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val diff = ctx.freshName("diff")
      s"""
         |long[] $codes = new long[$m];
         |int $n = $c.numElements();
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $off = $mi * $subDim;
         |  double[][] $cws = $cbRef[$mi];
         |  int $best = 0;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $k = 0; $k < $cws.length; $k++) {
         |    double[] $cw = $cws[$k];
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $xi = ($off + $i < $n) ? (double) $c.getFloat($off + $i) : 0.0;
         |      double $diff = $xi - $cw[$i];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $k; }
         |  }
         |  $codes[$mi] = (long) $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecPqCodes =
    copy(child = newChild)
}

/** Per-query ADC lookup table for [[VecPqCodes]]: for each subspace m
  * and codeword k, the sequential-double dot of the query's m-th
  * subvector with that codeword. Output `array<double>` of length
  * m·K, laid out `lut[m·K + k]` — computed ONCE per query row and
  * broadcast with it, amortizing over the whole corpus. */
case class VecPqLut(child: Expression, codebook: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty))
  private val m = codebook.length
  private val kk = codebook.head.length
  private val subDim = codebook.head.head.length
  require(codebook.forall(_.length == kk), "ragged codebooks unsupported")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_pq_lut"

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebook.map(_.map(_.toArray).toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val lut = new Array[Double](m * kk)
    var mi = 0
    while (mi < m) {
      val off = mi * subDim
      var k = 0
      while (k < kk) {
        val cw = cbArr(mi)(k)
        var s = 0.0
        var i = 0
        while (i < subDim) {
          val xi = if (off + i < n) x.getFloat(off + i).toDouble else 0.0
          s += xi * cw(i)
          i += 1
        }
        lut(mi * kk + k) = s
        k += 1
      }
      mi += 1
    }
    new GenericArrayData(lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cbRef = ctx.addReferenceObj("pqcb", cbArr, "double[][][]")
      val lut = ctx.freshName("lut")
      val n = ctx.freshName("n")
      val mi = ctx.freshName("mi")
      val off = ctx.freshName("off")
      val k = ctx.freshName("k")
      val cw = ctx.freshName("cw")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      s"""
         |double[] $lut = new double[${m * kk}];
         |int $n = $c.numElements();
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $off = $mi * $subDim;
         |  for (int $k = 0; $k < $kk; $k++) {
         |    double[] $cw = $cbRef[$mi][$k];
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $xi = ($off + $i < $n) ? (double) $c.getFloat($off + $i) : 0.0;
         |      $s += $xi * $cw[$i];
         |    }
         |    $lut[$mi * $kk + $k] = $s;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecPqLut =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) score: Σ_m `lut[m·K + codes[m]]`,
  * accumulated left-to-right in doubles — the approximate query·vector
  * dot product reconstructed from the m PQ codes with m array lookups
  * instead of Dim multiplies. The inner-loop kernel of PQ search. */
case class VecPqAdc(left: Expression, right: Expression, kk: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_pq_adc"

  // Width guard (r19): ADC with a codes row encoded against a
  // different index shape (wrong m) would silently score garbage or
  // index out of bounds — fail LOUDLY per row instead. This replaces
  // the former per-segment width-probe job in ivfPqServeStored (one
  // integer compare per row vs one scheduled job per segment per
  // serve), and covers every ADC caller, not just the stored serve.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    var s = 0.0
    var mi = 0
    val m = codes.numElements()
    if (lut.numElements() != m * kk)
      throw new IllegalStateException(
        s"vec_pq_adc: $m-wide codes do not match a ${lut.numElements()}" +
          s"-entry LUT at cb_k=$kk — segment encoded against a different index shape")
    while (mi < m) {
      s += lut.getDouble(mi * kk + codes.getLong(mi).toInt)
      mi += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val mi = ctx.freshName("mi")
      s"""
         |if ($b.numElements() != $a.numElements() * $kk)
         |  throw new IllegalStateException("vec_pq_adc: " + $a.numElements()
         |    + "-wide codes do not match a " + $b.numElements()
         |    + "-entry LUT at cb_k=" + $kk
         |    + " — segment encoded against a different index shape");
         |double $s = 0.0;
         |for (int $mi = 0; $mi < $a.numElements(); $mi++) {
         |  $s += $b.getDouble($mi * $kk + (int) $a.getLong($mi));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecPqAdc =
    copy(left = newLeft, right = newRight)
}

/** Shared kernel for [[ShingleHashes]]: distinct polynomial hashes of
  * all word-`n`-gram shingles of a text, straight from the UTF-8
  * bytes. Equivalent (bit-for-bit) to: split on ' ' (Java semantics —
  * inner empties kept, trailing empties dropped), form n-token
  * shingles joined by ' ', PolyHash each, distinct. But with zero
  * intermediate strings: each shingle hash is one rolling pass over
  * the original byte range (0x20 never occurs inside a multi-byte
  * UTF-8 sequence, so byte-level splitting is safe). */
object ShingleKernel {
  def hashes(text: UTF8String, n: Int, base: Long, distinct: Boolean): Array[Long] = {
    val bytes = text.getBytes
    // token boundaries
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    var s = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { starts(t) = s; ends(t) = i; t += 1; s = i + 1 }
      i += 1
    }
    starts(t) = s; ends(t) = bytes.length; t += 1
    // Trailing empty tokens are KEPT: Spark's split(col, " ") uses
    // limit -1 (keeps them) and DuckDB's string_split keeps them, so
    // the SQL oracle twins have always modeled shingles over the
    // full token list — a text ending in ' ' contributes a final
    // shingle with an empty last token on every path. (An earlier
    // revision trimmed them to match java String.split, which
    // matches NEITHER engine's split — caught by q_containment's
    // trailing-space excerpts.)
    if (t < n) return Array.emptyLongArray
    val out = new Array[Long](t - n + 1)
    var w = 0
    while (w <= t - n) {
      var h = 0L
      var k = w
      while (k < w + n) {
        if (k > w) h = (h * base + 0x20L) % Poly.Mod
        var j = starts(k)
        while (j < ends(k)) {
          h = (h * base + (bytes(j) & 0xFFL)) % Poly.Mod
          j += 1
        }
        k += 1
      }
      out(w) = h
      w += 1
    }
    if (!distinct) return out
    // distinct via sort + unique (order is irrelevant to all callers:
    // the array is exploded into a set or reduced by min/count)
    java.util.Arrays.sort(out)
    var uniq = 1
    i = 1
    while (i < out.length) {
      if (out(i) != out(uniq - 1)) { out(uniq) = out(i); uniq += 1 }
      i += 1
    }
    if (uniq == out.length) out else java.util.Arrays.copyOf(out, uniq)
  }
}

/** Distinct word-n-gram shingle hashes of a text column in ONE
  * codegen'd pass — fuses split + sliding window + concat + PolyHash +
  * array_distinct (the previous formulation paid an interpreted
  * higher-order `transform` per row plus per-shingle string
  * allocation). Output `array<long>`, sorted ascending. */
case class ShingleHashes(child: Expression, n: Int, base: Long,
    distinct: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleKernel.hashes(input.asInstanceOf[UTF8String], n, base, distinct))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  graft.functions.ShingleKernel.hashes($c, $n, ${base}L, $distinct));
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Pair-enumeration kernel shared by [[PairArray]]'s interpreted and
  * generated paths: array<long> ids → all C(n,2) ordered pairs
  * (a < b) as struct rows, ids sorted first so pair order is
  * canonical. Primitive longs straight out of ArrayData — the Scala
  * UDF this replaces deserialized to Seq[Long], boxed every id into a
  * tuple, and re-encoded the tuples row by row on the hottest dedup
  * path (every LSH/SimHash/embedding bucket runs through it). Output
  * is bounded by the caller's bucket cap (≤ cap²/2 rows). */
object PairKernel {
  // C(n,2) must both fit an Int AND be a sane allocation (C(8192,2)
  // ≈ 33.5M structs; the old 65536 cap admitted 2.1e9-element arrays
  // that could only OOM, and its intermediate n*(n-1) wrapped an Int
  // past n=46341). Bucketed callers cap far below this; the guard is
  // for the SQL-registered function, which has no caller-side cap.
  private val MaxIds = 8192

  def pairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n > MaxIds) throw new IllegalArgumentException(
      s"pair_array: $n ids exceed the $MaxIds limit (C(n,2) would " +
        "overflow); cap buckets before enumerating pairs " +
        "(graft_capped_min_ids)")
    val s = new Array[Long](n)
    var i = 0
    while (i < n) { s(i) = ids.getLong(i); i += 1 }
    java.util.Arrays.sort(s)
    // size in Long first: the intermediate n*(n-1) wraps an Int for
    // n > 46341 even though C(MaxIds,2) itself fits
    val out = new Array[Any]((n.toLong * (n - 1) / 2).toInt)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(s(i), s(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** All unordered id pairs of a bucket as `array<struct<id_a, id_b>>`
  * (a < b, canonical order) — feeds `explode` in
  * [[graft.text.Dedup.bucketPairs]]. */
case class PairArray(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  // declared input type matters: without it a SQL call with array<int>
  // (the natural literal) would reach getLong() reads over 4-byte
  // elements — silent garbage; with it, Catalyst inserts the cast.
  // Narrowed to Seq[DataType] (covariant return) because the declared
  // Seq[AbstractDataType] names a private[sql] class.
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "pair_array"

  override protected def nullSafeEval(input: Any): Any =
    PairKernel.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.PairKernel.pairs($c);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): PairArray =
    copy(child = newChild)
}

/** Character-entropy kernel shared by [[CharEntropy]]'s interpreted
  * and generated paths. One pass over the document's code points:
  * frequency counts (dense array for ASCII, the overwhelmingly common
  * case; spill map for the rest), then one term per DISTINCT code
  * point — each term quantized to integer µnats exactly like the
  * explode+agg formulation it replaces (`floor((n/N)·ln(N/n)·1e6 +
  * 1e-6)`, the same double-op sequence, so results are bit-identical
  * and the DuckDB oracle is unchanged). The integer term sum is
  * combine-order free. */
object CharEntropyKernel {
  /** Returns `{n_distinct_codepoints, entropy_nats_micro}`. */
  def compute(s: UTF8String): Array[Long] = {
    val str = s.toString
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Array[Int]] = null
    var nTot = 0L
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      nTot += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Int]]
        val cell = other.get(cp)
        if (cell == null) other.put(cp, Array(1)) else cell(0) += 1
      }
    }
    var nDistinct = 0L
    var ent = 0L
    // the exact double-op order of the former column expression:
    // ((n/N) * ln(N/n)) * 1e6, then floor(x + 1e-6)
    def term(n: Int): Long =
      math.floor(n.toDouble / nTot * math.log(nTot.toDouble / n) * 1e6 + 1e-6).toLong
    var c = 0
    while (c < 128) {
      if (ascii(c) > 0) { nDistinct += 1; ent += term(ascii(c)) }
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) { nDistinct += 1; ent += term(it.next()(0)) }
    }
    Array(nDistinct, ent)
  }
}

/** Per-document character Shannon entropy in ONE codegen pass — no
  * per-character explode, no (doc, char) shuffle rows at all: the
  * whole frequency table lives in a thread-local array for the
  * microseconds the row is under the projection. Returns
  * `array<long>` `[n_distinct_codepoints, entropy_nats_micro]`. */
case class CharEntropy(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(CharEntropyKernel.compute(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  graft.functions.CharEntropyKernel.compute($c));
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object NfcKernel {
  /** Unicode NFC normalization with an ASCII fast path: ASCII bytes
    * are NFC-invariant, so the overwhelmingly-common case (measured:
    * the whole synthetic corpus; at 100 TB: most crawl text) never
    * allocates — one branch-predictable byte scan, return the input.
    * Non-ASCII goes through `java.text.Normalizer`, skipping the
    * rewrite when already normalized (`isNormalized` is a cheap
    * quick-check scan). */
  def normalize(s: UTF8String): UTF8String = {
    // getByte over numBytes, NOT getBytes: the latter copies the whole
    // string when it is an offset into an UnsafeRow/columnar buffer
    // (i.e. every parquet-scanned row), which would make the "fast"
    // path allocate per row
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) {
        val str = s.toString
        val form = java.text.Normalizer.Form.NFC
        return if (java.text.Normalizer.isNormalized(str, form)) s
        else UTF8String.fromString(java.text.Normalizer.normalize(str, form))
      }
      i += 1
    }
    s
  }
}

/** Unicode NFC normalization (compose combining sequences: `e` +
  * U+0301 → `é`) as a native codegen'd expression — Spark has no
  * built-in normalizer, and text dedup/hashing REQUIRES one: the
  * composed and decomposed spellings of the same word hash apart, so
  * un-normalized corpora silently under-deduplicate. Twin of DuckDB's
  * `nfc_normalize` (both implement Unicode NFC, which is stabilized:
  * normalization of assigned code points never changes between
  * Unicode versions). */
case class NfcNormalize(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcKernel.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcKernel.normalize($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Column-API entry points for the native expressions. */
object F {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def polyHash(s: Column, base: Long = Poly.Base): Column = c(PolyHash(e(s), base))
  def morton(x: Column, y: Column, bits: Int = 16): Column =
    c(MortonInterleave(e(x), e(y), bits))
  def shingleHashes(text: Column, n: Int, base: Long = Poly.Base): Column =
    c(ShingleHashes(e(text), n, base))
  def shingleHashesAll(text: Column, n: Int, base: Long = Poly.Base): Column =
    c(ShingleHashes(e(text), n, base, distinct = false))
  def minhashSig(shingles: Column, permA: Seq[Long], permB: Seq[Long]): Column =
    c(MinHashSig(e(shingles), permA, permB))
  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))
  def charEntropy(text: Column): Column = c(CharEntropy(e(text)))
  def nfcNormalize(text: Column): Column = c(NfcNormalize(e(text)))
  def pairArray(ids: Column): Column = c(PairArray(e(ids)))
  def vecDot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def vecDotD(a: Column, b: Column): Column = c(VecDotD(e(a), e(b)))
  def vecNorm(a: Column): Column = c(VecNorm(e(a)))
  def vecNearestCid(emb: Column, norm: Column, cids: Seq[Long],
      cvecs: Seq[Seq[Double]], cnorms: Seq[Double]): Column =
    c(VecNearestCid(e(emb), e(norm), cids, cvecs, cnorms))
  def cappedMinIds(id: Column, cap: Int): Column =
    c(CappedMinIds(e(id), cap).toAggregateExpression())
  def kmvSketch(hash: Column, cap: Int): Column =
    c(KmvSketch(e(hash), cap).toAggregateExpression())
  def vecPqCodes(emb: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    c(VecPqCodes(e(emb), codebook))
  def vecPqLut(emb: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    c(VecPqLut(e(emb), codebook))
  def vecPqAdc(codes: Column, lut: Column, kk: Int): Column =
    c(VecPqAdc(e(codes), e(lut), kk))
}
