package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnShim => ExpressionUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot paths the built-in functions can't
  * express efficiently (preference order per SURVEY §7: compose built-ins
  * first; a native Expression only where that loses an order of magnitude).
  *
  * Both are allocation-light inner loops evaluated per row; CodegenFallback
  * keeps them inside the generated pipeline (one virtual call per row, no
  * serialization boundary — still far cheaper than a Scala UDF's
  * encoder round-trip).
  */

/** Merge-intersection count of two SORTED long arrays — the pairwise scorer
  * for hashed-shingle Jaccard. O(|a|+|b|) comparisons, zero allocation,
  * versus array_intersect's per-pair hash-set build. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  // getLong reads 8-byte strides — pin the element type so an array<int>
  // input fails analysis instead of silently merging garbage (the
  // SrpSketchBits discipline)
  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> inputs, got " +
            s"${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression) =
    copy(left = newLeft, right = newRight)
}

/** Fused MinHash signature: for each seed s in 0 until numHashes, the minimum
  * of md5(s ‖ ":" ‖ shingle) over the shingle array, as lowercase hex —
  * byte-identical to `min(md5(concat(seed, ':', shingle)))` (the DuckDB
  * oracle's formulation) but with one reused MessageDigest and no
  * per-seed array traversal / UTF8String churn. */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {
  // empty shingle sets produce [null × N] (min over nothing), so elements
  // are nullable
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_signature"

  @transient private lazy val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(s => s"$s:".getBytes("UTF-8"))

  private def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private val hexChars = "0123456789abcdef".toCharArray
  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) // min over an empty set is null PER SEED — [null × N], the
      // same shape the compositional array(array_min(...)) form produces
      return new GenericArrayData(new Array[Any](numHashes))
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](numHashes)
    // one scratch digest buffer: digest(buf,off,len) writes in place (and
    // resets), so the hot loop allocates only when a new minimum survives —
    // rare after the first few shingles — instead of 16×|shingles| times
    val scratch = new Array[Byte](16)
    var i = 0
    while (i < n) {
      val sb = arr.getUTF8String(i).getBytes
      var s = 0
      while (s < numHashes) {
        md.update(seedPrefixes(s))
        md.update(sb)
        md.digest(scratch, 0, 16)
        if (mins(s) == null || lessUnsigned(scratch, mins(s)))
          mins(s) = scratch.clone()
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(d => UTF8String.fromString(hex(d))))
  }

  override def nullable: Boolean = true
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Dot product of two float vectors in double precision — the inner loop of
  * every similarity-search operator. Fully codegen'd (doGenCode): the
  * generated loop reads primitive floats straight out of the columnar
  * ArrayData with no per-element boxing or intermediate array, unlike
  * zip_with+aggregate which materializes a boxed lambda result per element.
  * Accumulation is left-to-right in element order, matching the
  * zip_with/aggregate formulation bit-for-bit. Elements must be non-null;
  * length mismatch scores the common prefix. */
case class FloatVectorDot(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  /** Primitive accessor per side: float or double element arrays. */
  private def getterName(e: Expression): String = e.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(
      s"float_vector_dot expects array<float|double>, got ${other.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val aDouble = getterName(left) == "getDouble"
    val bDouble = getterName(right) == "getDouble"
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.${getterName(left)}($i)
         |        * (double) $b.${getterName(right)}($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression) =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance (ADC) score of one product-quantized code row
  * against a query vector: Σ_mi dot(qvec[mi·subDim ..], books[mi][code_mi]).
  * One expression for the WHOLE sum — the compositional form (m slices +
  * m literal-array lookups + m dots) is correct but collapses to
  * interpreted per-row evaluation wherever the surrounding stage loses
  * whole-stage codegen (the ADC scan sits behind a broadcast nested-loop
  * join, which has no codegen), and its per-row constant is ~100× this
  * tight loop. The codebooks ride along as one flattened double[]
  * reference object ([[codebooksFlat]] layout: (mi·k + code)·subDim + j),
  * never per-row literals. Arithmetic order matches the compositional
  * form term-for-term, so results are bit-identical. */
case class PqAdcScore(left: Expression, right: Expression,
                      books: Array[Double], m: Int, k: Int, subDim: Int)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  private def qGetter: String = left.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(
      s"pq_adc_score expects array<float|double> query, got ${other.simpleString}")
  }

  override def nullSafeEval(q: Any, c: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val cd = c.asInstanceOf[ArrayData]
    val qDouble = qGetter == "getDouble"
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val base = (mi * k + cd.getInt(mi)) * subDim
      val qoff = mi * subDim
      // per-subspace partial, summed into acc afterwards — the exact
      // association order of dot-per-subspace + reduce(_ + _)
      var part = 0.0
      var j = 0
      while (j < subDim) {
        val x = if (qDouble) qv.getDouble(qoff + j)
                else qv.getFloat(qoff + j).toDouble
        part += x * books(base + j)
        j += 1
      }
      acc += part
      mi += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[]")
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val acc = ctx.freshName("acc")
      val part = ctx.freshName("part")
      val mi = ctx.freshName("mi")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val qoff = ctx.freshName("qoff")
      s"""
         |double $acc = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $base = ($mi * $k + $c.getInt($mi)) * $subDim;
         |  int $qoff = $mi * $subDim;
         |  double $part = 0.0;
         |  for (int $j = 0; $j < $subDim; $j++) {
         |    $part += (double) $q.$qGetter($qoff + $j) * $booksRef[$base + $j];
         |  }
         |  $acc += $part;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression) =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmin over |c|² − 2·v·c — the fused form of
  * [[graft.ops.KMeans.assignExpr]]'s k-struct + array_min tree. The
  * compositional tree is fine under whole-stage codegen but costs ~ms/row
  * interpreted (every stage behind a broadcast nested-loop join), and the
  * assign lands in exactly those stages in ANN search paths. Bit-identical:
  * same c² fold, same left-to-right dot, same (d, i) lexicographic argmin
  * with Spark's NaN-is-largest ordering. `cents` flat at c·dim + j. */
case class KMeansAssignArgmin(child: Expression, cents: Array[Double],
                              c2: Array[Double], k: Int, dim: Int)
  extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "kmeans_assign"

  private def vGetter: String = child.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(
      s"kmeans_assign expects array<float|double> vector, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val vv = v.asInstanceOf[ArrayData]
    val vDouble = vGetter == "getDouble"
    val n = math.min(dim, vv.numElements())
    var best = Double.NaN; var bestI = 0
    var c = 0
    while (c < k) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        val x = if (vDouble) vv.getDouble(j) else vv.getFloat(j).toDouble
        dot += x * cents(c * dim + j)
        j += 1
      }
      val d = c2(c) - 2.0 * dot
      if (c == 0 || d < best ||
          (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(d))) {
        best = d; bestI = c
      }
      c += 1
    }
    bestI
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "double[]")
    val c2Ref = ctx.addReferenceObj("kmC2", c2, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val best = ctx.freshName("best")
      val bestI = ctx.freshName("bestI"); val c = ctx.freshName("c")
      val dot = ctx.freshName("dot"); val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |double $best = Double.NaN; int $bestI = 0;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += (double) $v.$vGetter($j) * $centsRef[$c * $dim + $j];
         |  }
         |  double $d = $c2Ref[$c] - 2.0 * $dot;
         |  if ($c == 0 || $d < $best ||
         |      (Double.isNaN($best) && !Double.isNaN($d))) {
         |    $best = $d; $bestI = $c;
         |  }
         |}
         |${ev.value} = $bestI;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Min squared L2 distance from a vector to any of k centers, clamped at
  * ≥ 0 — the fused form of the k-means‖ init's per-center
  * `least(...)` fold ([[graft.ops.KMeans]] minDistSq), which was O(k)
  * NESTED column nodes: with oversampling l = 2k per round, a √n-sized
  * quantizer fit beyond ~150 cells accumulates ~800 candidate centers
  * and the nested-least tree overflowed the driver stack during column
  * conversion (sf9 rag corpus). Bit-identical: same
  * (v² − 2·v·c) + c² per center with the shared left-to-right dots,
  * fold-left min with NaN-is-largest (Spark `least`), final
  * `greatest(·, 0)` clamp. `cents` flat at c·dim + j. */
case class KMeansMinDistSq(child: Expression, cents: Array[Double],
                           c2: Array[Double], k: Int, dim: Int)
  extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "kmeans_min_dist_sq"

  private def vGetter: String = child.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(
      s"kmeans_min_dist_sq expects array<float|double> vector, got " +
        other.simpleString)
  }

  override def nullSafeEval(v: Any): Any = {
    val vv = v.asInstanceOf[ArrayData]
    val vDouble = vGetter == "getDouble"
    val n = math.min(dim, vv.numElements())
    var v2 = 0.0
    var j = 0
    while (j < n) {
      val x = if (vDouble) vv.getDouble(j) else vv.getFloat(j).toDouble
      v2 += x * x
      j += 1
    }
    var best = Double.NaN
    var c = 0
    while (c < k) {
      var dot = 0.0
      j = 0
      while (j < n) {
        val x = if (vDouble) vv.getDouble(j) else vv.getFloat(j).toDouble
        dot += x * cents(c * dim + j)
        j += 1
      }
      val d = v2 - 2.0 * dot + c2(c)
      if (c == 0 || d < best ||
          (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(d)))
        best = d
      c += 1
    }
    if (java.lang.Double.isNaN(best)) best else math.max(best, 0.0)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "double[]")
    val c2Ref = ctx.addReferenceObj("kmC2", c2, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val v2 = ctx.freshName("v2")
      val best = ctx.freshName("best"); val c = ctx.freshName("c")
      val dot = ctx.freshName("dot"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val x = ctx.freshName("x")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |double $v2 = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  double $x = (double) $v.$vGetter($j);
         |  $v2 += $x * $x;
         |}
         |double $best = Double.NaN;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += (double) $v.$vGetter($j) * $centsRef[$c * $dim + $j];
         |  }
         |  double $d = $v2 - 2.0 * $dot + $c2Ref[$c];
         |  if ($c == 0 || $d < $best ||
         |      (Double.isNaN($best) && !Double.isNaN($d))) {
         |    $best = $d;
         |  }
         |}
         |${ev.value} = Double.isNaN($best)
         |  ? $best : java.lang.Math.max($best, 0.0);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** The `nprobe` nearest centroids by (|c|² − 2·v·c, cell index), nearest
  * first — the fused form of [[graft.ops.KMeans.probeExpr]]'s old
  * k-struct + sort_array tree, which was O(k) COLUMN NODES: at the √n
  * cell counts the kNN/RAG families reach beyond ~150 cells (the sf9
  * rag corpus sizes to ~200), merely CONVERTING that tree overflowed
  * the driver stack before any row ran. One expression, k bounded only
  * by the flat centroid array. Bit-identical ordering to the tree form:
  * same c² fold, same left-to-right dot, distances compared NaN-largest
  * with exact-equality ties broken by cell index ascending (Spark's
  * struct ordering under sort_array). `cents` flat at c·dim + j. */
case class KMeansProbeList(child: Expression, cents: Array[Double],
                           c2: Array[Double], k: Int, dim: Int, nprobe: Int)
  extends UnaryExpression {
  require(nprobe >= 1, s"bad nprobe $nprobe")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "kmeans_probe_list"

  private def vGetter: String = child.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(
      s"kmeans_probe_list expects array<float|double> vector, got " +
        other.simpleString)
  }

  override def nullSafeEval(v: Any): Any = {
    val vv = v.asInstanceOf[ArrayData]
    val vDouble = vGetter == "getDouble"
    val n = math.min(dim, vv.numElements())
    val m = math.min(nprobe, k)
    val bd = new Array[Double](m); val bi = new Array[Int](m)
    var filled = 0
    var c = 0
    while (c < k) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        val x = if (vDouble) vv.getDouble(j) else vv.getFloat(j).toDouble
        dot += x * cents(c * dim + j)
        j += 1
      }
      val d = c2(c) - 2.0 * dot
      var pos = filled
      while (pos > 0 && {
        val pd = bd(pos - 1); val pi = bi(pos - 1)
        val cmp =
          if ((java.lang.Double.isNaN(d) && java.lang.Double.isNaN(pd)) ||
            d == pd) 0
          else if (java.lang.Double.isNaN(d)) 1
          else if (java.lang.Double.isNaN(pd)) -1
          else if (d > pd) 1 else -1
        cmp < 0 || (cmp == 0 && c < pi)
      }) pos -= 1
      if (pos < m) {
        val end = if (filled < m) filled else m - 1
        var t = end
        while (t > pos) { bd(t) = bd(t - 1); bi(t) = bi(t - 1); t -= 1 }
        bd(pos) = d; bi(pos) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bi, filled))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "double[]")
    val c2Ref = ctx.addReferenceObj("kmC2", c2, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val bd = ctx.freshName("bd"); val bi = ctx.freshName("bi")
      val filled = ctx.freshName("filled"); val c = ctx.freshName("c")
      val dot = ctx.freshName("dot"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val pos = ctx.freshName("pos")
      val pd = ctx.freshName("pd"); val pi = ctx.freshName("pi")
      val cmp = ctx.freshName("cmp"); val end = ctx.freshName("end")
      val t = ctx.freshName("t")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |int $m = java.lang.Math.min($nprobe, $k);
         |double[] $bd = new double[$m]; int[] $bi = new int[$m];
         |int $filled = 0;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += (double) $v.$vGetter($j) * $centsRef[$c * $dim + $j];
         |  }
         |  double $d = $c2Ref[$c] - 2.0 * $dot;
         |  int $pos = $filled;
         |  while ($pos > 0) {
         |    double $pd = $bd[$pos - 1]; int $pi = $bi[$pos - 1];
         |    int $cmp;
         |    if ((Double.isNaN($d) && Double.isNaN($pd)) || $d == $pd) {
         |      $cmp = 0;
         |    } else if (Double.isNaN($d)) { $cmp = 1; }
         |    else if (Double.isNaN($pd)) { $cmp = -1; }
         |    else { $cmp = $d > $pd ? 1 : -1; }
         |    if ($cmp < 0 || ($cmp == 0 && $c < $pi)) { $pos--; }
         |    else { break; }
         |  }
         |  if ($pos < $m) {
         |    int $end = $filled < $m ? $filled : $m - 1;
         |    for (int $t = $end; $t > $pos; $t--) {
         |      $bd[$t] = $bd[$t - 1]; $bi[$t] = $bi[$t - 1];
         |    }
         |    $bd[$pos] = $d; $bi[$pos] = $c;
         |    if ($filled < $m) { $filled++; }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($bi, $filled));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** All m PQ sub-codes of one vector in one pass — the fused form of
  * m × (slice + [[KMeansAssignArgmin]]). Same flat codebook layout as
  * [[PqAdcScore]] ((mi·k + c)·subDim + j, c² at mi·k + c); identical
  * arithmetic and argmin ordering, no per-subspace slice allocation. */
case class PqEncode(child: Expression, books: Array[Double],
                    c2: Array[Double], m: Int, k: Int, subDim: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  private def vGetter: String = child.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(
      s"pq_encode expects array<float|double> vector, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val vv = v.asInstanceOf[ArrayData]
    val vDouble = vGetter == "getDouble"
    val total = vv.numElements()
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val qoff = mi * subDim
      // slice-then-dot semantics: the slice clips at the vector end, the
      // dot then runs over the common prefix
      val n = math.max(0, math.min(subDim, total - qoff))
      var best = Double.NaN; var bestI = 0
      var c = 0
      while (c < k) {
        var dot = 0.0
        var j = 0
        while (j < n) {
          val x = if (vDouble) vv.getDouble(qoff + j)
                  else vv.getFloat(qoff + j).toDouble
          dot += x * books((mi * k + c) * subDim + j)
          j += 1
        }
        val d = c2(mi * k + c) - 2.0 * dot
        if (c == 0 || d < best ||
            (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(d))) {
          best = d; bestI = c
        }
        c += 1
      }
      codes(mi) = bestI
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[]")
    val c2Ref = ctx.addReferenceObj("pqC2", c2, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val codes = ctx.freshName("codes"); val total = ctx.freshName("total")
      val mi = ctx.freshName("mi"); val qoff = ctx.freshName("qoff")
      val n = ctx.freshName("n"); val best = ctx.freshName("best")
      val bestI = ctx.freshName("bestI"); val c = ctx.freshName("c")
      val dot = ctx.freshName("dot"); val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      s"""
         |int $total = $v.numElements();
         |int[] $codes = new int[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $qoff = $mi * $subDim;
         |  int $n = java.lang.Math.max(0, java.lang.Math.min($subDim, $total - $qoff));
         |  double $best = Double.NaN; int $bestI = 0;
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $dot += (double) $v.$vGetter($qoff + $j)
         |            * $booksRef[($mi * $k + $c) * $subDim + $j];
         |    }
         |    double $d = $c2Ref[$mi * $k + $c] - 2.0 * $dot;
         |    if ($c == 0 || $d < $best ||
         |        (Double.isNaN($best) && !Double.isNaN($d))) {
         |      $best = $d; $bestI = $c;
         |    }
         |  }
         |  $codes[$mi] = $bestI;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Sign-random-projection sketch — the fused form of
  * [[graft.ops.Srp.sketchExpr]]'s nBits×dim nested-aggregate tree. The
  * compositional HOF tree evaluates interpreted (~3k element_at calls per
  * row at 48×64), which made the sketch projection the whole cost of the
  * SRP search; this is the same integer arithmetic as one flat loop.
  * Bit-identical: bit j set iff Σ_i planes[j·dim+i]·(code_i − 128) > 0,
  * packed little-endian into one long. `planes` flat at j·dim + i. */
case class SrpSketchBits(child: Expression, planes: Array[Long],
                         nBits: Int, dim: Int)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_sketch_bits"

  // getLong reads 8-byte strides; an array<int>/array<byte> input would
  // silently evaluate garbage under UnsafeArrayData instead of failing
  // analysis, so pin the element type here.
  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint> input (non-null elements), " +
            s"got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val codes = v.asInstanceOf[ArrayData]
    val n = math.min(dim, codes.numElements())
    var sk = 0L
    var j = 0
    while (j < nBits) {
      var s = 0L
      var i = 0
      while (i < n) {
        s += planes(j * dim + i) * (codes.getLong(i) - 128L)
        i += 1
      }
      if (s > 0L) sk |= (1L << j)
      j += 1
    }
    sk
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val plRef = ctx.addReferenceObj("srpPlanes", planes, "long[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val sk = ctx.freshName("sk")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long $sk = 0L;
         |for (int $j = 0; $j < $nBits; $j++) {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $plRef[$j * $dim + $i] * ($v.getLong($i) - 128L);
         |  }
         |  if ($s > 0L) $sk |= (1L << $j);
         |}
         |${ev.value} = $sk;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** In-group pair expansion — the candidate generator every near-duplicate
  * operator runs inside its bucket groups. Emits (a, b) rows that keep the
  * input element type, read straight from the input array(s): no per-pair
  * struct array and no lambda evaluation. Exactly two forms:
  *  - self (one SORTED array xs): every (xs[i], xs[j]) with i < j when
  *    size ≤ cap; otherwise the star (xs[0], xs[j]) for j ≥ 1;
  *  - cross (ls, rs): every ls × rs pair when |ls|·|rs| ≤ cap, the product
  *    taken in Long so a giant bucket cannot wrap under the cap; otherwise
  *    (l, rs[0]) for each l (nothing when rs is empty).
  * The star links every member to one hub in O(|group|) rows — the
  * connectivity dedup consumes — so no group ever expands quadratically
  * past its cap. A null array emits nothing. Per-pair fields and filters
  * belong in the projection after the generator, where they codegen. */
case class GroupPairs(children: Seq[Expression], cap: Long)
  extends Generator with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "group_pairs"
  override def inputTypes = children.map(_ => ArrayType)

  // the (a, b) sides; the self form pairs its one array with itself
  private def sides: Seq[ArrayType] =
    Seq(children.head, children.last).map(_.dataType.asInstanceOf[ArrayType])
  override def elementSchema: StructType = StructType(Seq("a", "b").zip(sides)
    .map { case (n, t) => StructField(n, t.elementType, t.containsNull) })
  @transient private lazy val (lt, rt) =
    (sides.head.elementType, sides(1).elementType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val self = children.size == 1
    val ls = children.head.eval(input).asInstanceOf[ArrayData]
    val rs = if (self) ls else children(1).eval(input).asInstanceOf[ArrayData]
    if (ls == null || rs == null) return Iterator.empty
    val nl = ls.numElements(); val nr = rs.numElements()
    val within = (if (self) nl.toLong else nl.toLong * nr) <= cap
    // past the cap the self star keeps only row 0 as the hub, the cross
    // star only column 0 (rs[0]) as every l's partner
    val rows = if (self && !within) math.min(nl, 1) else nl
    val cols = if (!self && !within) math.min(nr, 1) else nr
    Iterator.range(0, rows).flatMap { i =>
      val a = ls.get(i, lt)
      Iterator.range(if (self) i + 1 else 0, cols)
        .map(j => new GenericInternalRow(Array[Any](a, rs.get(j, rt))))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GroupPairs =
    copy(children = newChildren)
}

object GraftExpressions {
  def float_vector_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVectorDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** See [[KMeansAssignArgmin]]; `cents` flat at c·dim + j. */
  def kmeans_assign(vec: Column, cents: Array[Double], c2: Array[Double],
                    k: Int, dim: Int): Column =
    ExpressionUtils.column(KMeansAssignArgmin(
      ExpressionUtils.expression(vec), cents, c2, k, dim))

  /** See [[KMeansMinDistSq]]; `cents` flat at c·dim + j. */
  def kmeans_min_dist_sq(vec: Column, cents: Array[Double],
                         c2: Array[Double], k: Int, dim: Int): Column =
    ExpressionUtils.column(KMeansMinDistSq(
      ExpressionUtils.expression(vec), cents, c2, k, dim))

  /** See [[KMeansProbeList]]; `cents` flat at c·dim + j. */
  def kmeans_probe_list(vec: Column, cents: Array[Double], c2: Array[Double],
                        k: Int, dim: Int, nprobe: Int): Column =
    ExpressionUtils.column(KMeansProbeList(
      ExpressionUtils.expression(vec), cents, c2, k, dim, nprobe))

  /** See [[PqEncode]]; layout shared with [[PqAdcScore]]. */
  def pq_encode(vec: Column, books: Array[Double], c2: Array[Double],
                m: Int, k: Int, subDim: Int): Column =
    ExpressionUtils.column(PqEncode(
      ExpressionUtils.expression(vec), books, c2, m, k, subDim))

  /** See [[PqAdcScore]]; `books` indexed (mi·k + code)·subDim + j. */
  def pq_adc_score(qvec: Column, codes: Column, books: Array[Double],
                   m: Int, k: Int, subDim: Int): Column =
    ExpressionUtils.column(PqAdcScore(
      ExpressionUtils.expression(qvec), ExpressionUtils.expression(codes),
      books, m, k, subDim))

  /** See [[SrpSketchBits]]; `planes` flat at j·dim + i. */
  def srp_sketch_bits(codes: Column, planes: Array[Long], nBits: Int,
                      dim: Int): Column =
    ExpressionUtils.column(SrpSketchBits(
      ExpressionUtils.expression(codes), planes, nBits, dim))

  def sorted_intersect_count(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedLongIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def minhash_signature(shingleArr: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(
      ExpressionUtils.expression(shingleArr), numHashes))

  /** See [[GroupPairs]], self form: pairs inside one sorted array, the star
    * past `cap` members (default: no cap). Like any generator it is one per
    * select; its output columns are `a` and `b`. */
  def group_pairs(xs: Column, cap: Long = Long.MaxValue): Column =
    ExpressionUtils.column(GroupPairs(Seq(ExpressionUtils.expression(xs)), cap))

  /** See [[GroupPairs]], cross form: `ls` × `rs`, the star onto `rs[0]`
    * past `cap` pairs. */
  def group_pairs(ls: Column, rs: Column, cap: Long): Column =
    ExpressionUtils.column(
      GroupPairs(Seq(ls, rs).map(ExpressionUtils.expression), cap))
}
