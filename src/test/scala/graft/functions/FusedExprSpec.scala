package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Bit-identity of the fused ANN expressions ([[KMeansAssignArgmin]],
  * [[PqEncode]], [[PqAdcScore]]) against the compositional Column forms
  * they replaced (k-struct array_min argmin; per-subspace slice + assign;
  * per-subspace dot + reduce sum). The fused forms exist because the
  * compositional trees collapse to ~ms/row interpreted evaluation in
  * codegen-less stages (broadcast nested-loop joins); they must return the
  * EXACT same bits — same c² fold, same left-to-right dot association,
  * same (d, i) lexicographic argmin under Spark's NaN-is-largest ordering
  * — or ANN results would drift between plan shapes. */
class FusedExprSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val dim = 16
  private val m = 4
  private val k = 5
  private val subDim = dim / m

  private def centroids: Array[Array[Double]] =
    Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))

  /** The pre-fusion assignExpr: argmin via k structs + array_min. */
  private def assignComposed(vec: Column,
                             cents: Array[Array[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct(
        (lit(c2) - lit(2.0) * VectorFunctions.dot(vec, typedlit(c.toSeq)))
          .as("d"),
        lit(i).as("i"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("i")
  }

  /** The pre-fusion adcScore: per-subspace dot + left-to-right sum. */
  private def adcComposed(qvec: Column, codes: Column,
                          model: graft.ops.Pq.Model): Column =
    (0 until model.m).map { mi =>
      val book = array(model.codebooks(mi).map(c => typedlit(c.toSeq)): _*)
      VectorFunctions.dot(slice(qvec, mi * model.subDim + 1, model.subDim),
        element_at(book, element_at(codes, mi + 1) + 1))
    }.reduce(_ + _)

  // mix of regular vectors, a NaN-poisoned vector, a short vector (slice
  // clips; the dot runs the common prefix), and an exact centroid copy
  // (tie-adjacent d values)
  private def vectorsDf(cents: Array[Array[Double]]) = {
    val regular = (0 until 50).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val poisoned = (50L, Array.tabulate(dim)(j =>
      if (j == 3) Float.NaN else 0.5f))
    val short = (51L, Array.fill(subDim + 1)(0.25f))
    val onCentroid = (52L, cents(2).map(_.toFloat))
    (regular :+ poisoned :+ short :+ onCentroid).toDF("id", "v")
  }

  test("fused kmeans assign == compositional argmin, bit for bit") {
    val cents = centroids
    val df = vectorsDf(cents)
    val both = df.select($"id",
      graft.ops.KMeans.assignExpr($"v", cents).as("fused"),
      assignComposed($"v", cents).as("composed"))
    assert(both.where($"fused" =!= $"composed").count() == 0)
    // duplicated centroid: argmin must keep the LOWEST index
    val dup = cents.init :+ cents(0)
    val tied = df.select(
      graft.ops.KMeans.assignExpr($"v", dup).as("fused"),
      assignComposed($"v", dup).as("composed"))
    assert(tied.where($"fused" =!= $"composed").count() == 0)
    assert(tied.where($"fused" === (dup.length - 1)).count() == 0,
      "ties must break to the lowest centroid index")
  }

  test("fused pq encode == per-subspace slice + assign, bit for bit") {
    val model = graft.ops.Pq.Model(m, subDim,
      Array.fill(m)(Array.fill(k)(Array.fill(subDim)(rnd.nextGaussian()))))
    val composed = array((0 until m).map(mi =>
      assignComposed(slice($"v", mi * subDim + 1, subDim),
        model.codebooks(mi))): _*)
    val df = vectorsDf(model.codebooks.flatten.take(k))
    val both = df.select($"id",
      graft.ops.Pq.encodeExpr($"v", model).as("fused"),
      composed.as("composed"))
    assert(both.where(to_json($"fused") =!= to_json($"composed")).count() == 0)
  }

  test("fused adc score == per-subspace dot sum, bit for bit") {
    val model = graft.ops.Pq.Model(m, subDim,
      Array.fill(m)(Array.fill(k)(Array.fill(subDim)(rnd.nextGaussian()))))
    val codes = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat),
        Array.fill(m)(rnd.nextInt(k)))).toDF("id", "q", "codes")
    val both = codes.select($"id",
      graft.ops.Pq.adcScore($"q", $"codes", model).as("fused"),
      adcComposed($"q", $"codes", model).as("composed"))
    // exact double equality — identical association order, so identical bits
    assert(both.where($"fused" =!= $"composed").count() == 0)
  }

  test("srp_sketch_bits equals the compositional HOF sketch bit-for-bit") {
    val nBits = 48; val d = 12
    val pl = graft.ops.Srp.planes(nBits, d)
    // int8 code arrays incl. all-128 (every plane sum exactly 0 → bit
    // clear: the s > 0 strict inequality), extremes, and a short array
    // (fused clips to its length; compositional would index past — pad)
    val codes = (0 until 40).map(i =>
      (i.toLong, Array.fill(d)(rnd.nextInt(256).toLong))) :+
      (40L, Array.fill(d)(128L)) :+
      (41L, Array.fill(d)(0L)) :+ (42L, Array.fill(d)(255L))
    val df = codes.toDF("id", "codes")
    val both = df.select($"id",
      graft.ops.Srp.sketchExpr($"codes", pl).as("fused"),
      graft.ops.Srp.sketchExprCompositional($"codes", pl).as("composed"))
    assert(both.where($"fused" =!= $"composed").count() == 0)
    // the all-128 row has zero dot on every plane: strictly-positive test
    // keeps all bits clear
    assert(both.where($"id" === 40L).select($"fused").as[Long]
      .collect().head == 0L)
  }

  test("srp_sketch_bits rejects non-long code arrays at analysis time") {
    // getLong reads 8-byte strides: an array<int> input would silently
    // evaluate garbage under UnsafeArrayData — must fail analysis instead
    val pl = graft.ops.Srp.planes(8, 4)
    val intCodes = Seq((1L, Array(1, 2, 3, 4))).toDF("id", "codes")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      intCodes.select(graft.ops.Srp.sketchExpr($"codes", pl)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("array<bigint>"))
    // and array<bigint> still passes
    val longCodes = Seq((1L, Array(1L, 2L, 3L, 4L))).toDF("id", "codes")
    assert(longCodes.select(graft.ops.Srp.sketchExpr($"codes", pl))
      .collect().length == 1)
  }

  /** The hand-written in-group expansions [[GroupPairs]] replaced — the
    * test-only reference. Self: indexed transform over slices, star around
    * element 1 past the cap. Cross: nested transform, star onto rs[1] past
    * the cap, the size product in long. */
  private def selfPairsHof(xs: Column, cap: Long): Column = {
    val all = flatten(transform(xs, (x, i) =>
      transform(slice(xs, i + lit(2), size(xs)),
        y => struct(x.as("a"), y.as("b")))))
    val star = transform(slice(xs, lit(2), size(xs)),
      y => struct(element_at(xs, 1).as("a"), y.as("b")))
    when(size(xs) <= cap, all).otherwise(star)
  }

  private def crossPairsHof(ls: Column, rs: Column, cap: Long): Column = {
    val full = flatten(transform(ls, l =>
      transform(rs, r => struct(l.as("a"), r.as("b")))))
    val star = transform(ls, l => struct(l.as("a"), element_at(rs, 1).as("b")))
    when(size(ls).cast("long") * size(rs).cast("long") <= cap, full)
      .otherwise(star)
  }

  /** Runs `body` compiled (whole-stage codegen) and interpreted. */
  private def inBothCodegenModes(body: => Unit): Unit =
    Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN")).foreach { case (ws, fm) =>
      val ws0 = spark.conf.get("spark.sql.codegen.wholeStage")
      val fm0 = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
      try body
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", ws0)
        spark.conf.set("spark.sql.codegen.factoryMode", fm0)
      }
    }

  /** (cap, id, a, b) multisets of the native and the reference expansion
    * over every cap must be equal. */
  private def assertSamePairs(native: DataFrame, reference: DataFrame,
                              caps: Seq[Long], gp: Long => Column,
                              hof: Long => Column): Unit = {
    val got = caps.map(c => native.select(lit(c).as("cap"), $"id", gp(c)))
      .reduce(_.union(_))
    val want = caps.map(c => reference
        .select(lit(c).as("cap"), $"id", explode(hof(c)).as("p"))
        .select($"cap", $"id", $"p.a".as("a"), $"p.b".as("b")))
      .reduce(_.union(_))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "group_pairs diverged from the hand-written expansion")
  }

  test("group_pairs == the hand-written HOF expansions, both forms and modes") {
    // sizes 0, 1, 2 plus random sorted arrays drawn from 4 values (repeats
    // guaranteed), a null element and a null array
    val sizes = Seq(0, 1, 2) ++ Seq.fill(30)(rnd.nextInt(7))
    val arrays: Seq[Option[Seq[Option[Long]]]] =
      sizes.map(n => Some(Seq.fill(n)(rnd.nextInt(4).toLong).sorted.map(Some(_)))) :+
        Some(Seq(None, Some(1L), Some(1L))) :+ None
    val selfDf = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "xs").cache()
    // cross: every side-size pair in 0..2, then random sizes; long × string
    // elements show each side keeps its own type
    val sidePairs = (for (l <- 0 to 2; r <- 0 to 2) yield (l, r)) ++
      Seq.fill(20)((rnd.nextInt(5), rnd.nextInt(5)))
    val crossDf = sidePairs.zipWithIndex.map { case ((l, r), i) =>
      (i.toLong, Seq.fill(l)(rnd.nextInt(3).toLong).sorted,
        Seq.fill(r)(s"r${rnd.nextInt(3)}").sorted)
    }.toDF("id", "ls", "rs").cache()
    try {
      // caps 0, 1, size−1, size, size+1 for every size present, unbounded
      val selfCaps = (-1L to 8L) :+ Long.MaxValue
      val crossCaps = (-1L to 17L) :+ Long.MaxValue
      inBothCodegenModes {
        assertSamePairs(selfDf, selfDf, selfCaps,
          c => GraftExpressions.group_pairs($"xs", c),
          c => selfPairsHof($"xs", c))
        // the reference star indexes rs[1], so it only covers nonempty rs;
        // the native form must emit nothing for the empty-rs rows
        assertSamePairs(crossDf, crossDf.where(size($"rs") > 0), crossCaps,
          c => GraftExpressions.group_pairs($"ls", $"rs", c),
          c => crossPairsHof($"ls", $"rs", c))
      }
      val selfOut = selfDf.select(GraftExpressions.group_pairs($"xs")).schema
      assert(selfOut.map(f => f.name -> f.dataType) ==
        Seq("a" -> LongType, "b" -> LongType))
      val crossOut = crossDf
        .select(GraftExpressions.group_pairs($"ls", $"rs", 4)).schema
      assert(crossOut.map(f => f.name -> f.dataType) ==
        Seq("a" -> LongType, "b" -> StringType))
    } finally { selfDf.unpersist(); crossDf.unpersist(); () }
  }

  test("group_pairs cross cap compares the size product in long") {
    // 70 000 × 70 000 = 4.9e9 pairs; in Int the product wraps to 605 032 704,
    // under an Int.MaxValue cap, and would expand all of them
    val big = spark.range(1).select(sequence(lit(1L), lit(70000L)).as("ls"),
      sequence(lit(1L), lit(70000L)).as("rs"))
    inBothCodegenModes {
      val star = big
        .select(GraftExpressions.group_pairs($"ls", $"rs", Int.MaxValue.toLong))
        .agg(count(lit(1)), countDistinct($"a"), min($"b"), max($"b"))
        .head()
      assert(star.getLong(0) == 70000L && star.getLong(1) == 70000L,
        "the star pairs each l once")
      assert(star.getLong(2) == 1L && star.getLong(3) == 1L,
        "every l pairs with rs[0]")
    }
  }

  test("group_pairs rejects non-array inputs at analysis time") {
    val df = Seq((1L, Seq(1L, 2L))).toDF("x", "xs")
    Seq(GraftExpressions.group_pairs($"x"),
      GraftExpressions.group_pairs($"xs", $"x", 4)).foreach { gp =>
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(gp).collect()
      }
      assert(ex.getMessage.contains("UNEXPECTED_INPUT_TYPE") &&
        ex.getMessage.contains("\"ARRAY\""), ex.getMessage)
    }
  }

  test("fused forms survive both codegen and interpreted evaluation") {
    // force the interpreted path by putting the expressions behind a
    // broadcast nested-loop join (no whole-stage codegen), and compare
    // against the codegen'd projection of the same input
    val cents = centroids
    val df = vectorsDf(cents).cache()
    try {
      val direct = df.select($"id",
        graft.ops.KMeans.assignExpr($"v", cents).as("cell"))
      val tiny = broadcast(Seq(1).toDF("one"))
      val behindBnlj = df.crossJoin(tiny).select($"id",
        graft.ops.KMeans.assignExpr($"v", cents).as("cell"))
      assert(direct.exceptAll(behindBnlj).count() == 0)
    } finally { df.unpersist(); () }
  }
}
