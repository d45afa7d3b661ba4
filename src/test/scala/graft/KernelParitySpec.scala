package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup
import graft.plans.VectorKernels

/**
 * The native codegen kernels (plans/VectorKernels) must be BIT-IDENTICAL
 * to the interpreted higher-order-function formulations they replaced —
 * the DuckDB oracles were derived from the HOF math. Each test evaluates
 * both on the same data and asserts exact equality (doubles compared by
 * bit pattern via ===, no tolerance).
 */
class KernelParitySpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  // deterministic pseudo-random streams (no RNG object)
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def floats(seed: Long, n: Int): Array[Float] =
    Array.tabulate(n)(i => (mix(seed + i).toDouble / Long.MaxValue).toFloat)
  private def longs(seed: Long, n: Int): Array[Long] =
    Array.tabulate(n)(i => mix(seed * 31 + i)) // full-range, incl. negative

  private def vecDf = {
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, floats(i * 977L, 64))).toDF("id", "v")
  }
  private def hashDf = {
    import spark.implicits._
    // ragged lengths incl. 1-element; full-range longs like xxhash64 output
    (0 until 50).map(i => (i.toLong, longs(i * 131L, 1 + (i * 7) % 300)))
      .toDF("id", "hs")
  }

  private def hofDot(v: Column, w: Seq[Double]): Column =
    aggregate(zip_with(v, typedlit(w), (x, ww) => x.cast("double") * ww),
      lit(0.0), (acc, x) => acc + x)

  private def assertAllEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.where(!(col("kernel") === col("hof")) ||
        col("kernel").isNull =!= col("hof").isNull)
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("DotConst === aggregate(zip_with(...)) bit-for-bit") {
    val w = Dedup.hyperplane(3, 2)
    assertAllEqual(vecDf.select(
      VectorKernels.dotConst(col("v"), w).as("kernel"),
      hofDot(col("v"), w).as("hof")))
  }

  test("CosineSim === three-fold HOF cosine bit-for-bit (incl. self-pairs)") {
    val a = vecDf.select(col("id"), col("v").as("va"))
    val b = vecDf.select((col("id") + 1).as("id"), col("v").as("vb"))
    val pairs = a.join(b, Seq("id")) // shifted pairing + verify on distinct vectors
    val hofCos = {
      val dot = aggregate(zip_with(col("va"), col("vb"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
      val na = sqrt(aggregate(col("va"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      val nb = sqrt(aggregate(col("vb"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      dot / (na * nb)
    }
    assertAllEqual(pairs.select(
      VectorKernels.cosine(col("va"), col("vb")).as("kernel"), hofCos.as("hof")))
  }

  test("SimHash64 === 64x aggregate majority vote bit-for-bit") {
    val hofSimhash = {
      val n = size(col("hs"))
      (0 until 64).map { b =>
        val cnt = aggregate(col("hs"), lit(0),
          (acc, h) => acc + when(h.bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(0))
        when(cnt * 2 >= n, lit(1L << b)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
    }
    assertAllEqual(hashDf.select(
      VectorKernels.simhash(col("hs")).as("kernel"), hofSimhash.as("hof")))
  }

  test("MinHashSig === k x array_min(transform(...)) bit-for-bit") {
    val k = 32
    val params = Dedup.hashParams(k)
    val hofSig = array(params.map { case (a, b) =>
      array_min(transform(col("hs"), h =>
        pmod(pmod(h, lit(Int.MaxValue.toLong)) * lit(a) + lit(b),
          lit(Dedup.MersennePrime))))
    }: _*)
    assertAllEqual(hashDf.select(
      VectorKernels.minhash(col("hs"), params).as("kernel"), hofSig.as("hof")))
  }

  test("ShingleHash === array_distinct(transform(shingles(...), hash)) " +
    "bit-for-bit, both algos, over adversarial texts") {
    import spark.implicits._
    // adversarial shapes: empty, pure whitespace, leading tab (StringSplit
    // yields an empty first token), multi-space runs, NBSP (NOT regex \s),
    // mixed case + unicode lowercasing (Turkish İ, ß, CJK), < n tokens,
    // exactly n tokens, duplicated shingles (distinct path), long text
    val texts = Seq(
      "", "   ", "\tleading tab", "a", "a b", "a b c", "a b c d e",
      "A  B\t\nC  d", "word joined nbsp", "İstanbul ıI ß STRASSE",
      "中文 测试 文本 分词 中文 测试 文本 分词",
      "x y z x y z x y z x y z",
      (1 to 200).map(i => s"tok${i % 37}").mkString(" "),
      "  padded   both   ends  ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(3, 8); md5 <- Seq(false, true)) {
      val hashFn: Column => Column =
        if (md5) Dedup.md5Hash60 else (c => xxhash64(c))
      assertAllEqual(df.select(
        VectorKernels.shingleHash(col("text"), n, md5).as("kernel"),
        ColumnReference.shingleHashesHof(col("text"), hashFn, n).as("hof")))
    }
  }

  test("ShingleHash(n=1, distinct=false) === transform(tokens(text), hash) " +
    "bit-for-bit (duplicate tokens preserved, in order)") {
    import spark.implicits._
    val texts = Seq("", "   ", "a a a b a", "\tx  y\tx", "İ ß 中文 中文",
      (1 to 300).map(i => s"w${i % 11}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (md5 <- Seq(false, true)) {
      val hashFn: Column => Column =
        if (md5) Dedup.md5Hash60 else (c => xxhash64(c))
      assertAllEqual(df.select(
        VectorKernels.shingleHash(col("text"), 1, md5, distinct = false).as("kernel"),
        transform(Dedup.tokens(col("text")), hashFn).as("hof")))
    }
  }

  test("kernels survive codegen inside a realistic plan (filter + join)") {
    // smoke: evaluate inside WholeStageCodegen with surrounding operators
    val out = vecDf.as("x").join(vecDf.as("y"), col("x.id") < col("y.id"))
      .select(VectorKernels.cosine(col("x.v"), col("y.v")).as("cos"))
      .where(col("cos") > -2.0)
    assert(out.count() == 50L * 49 / 2)
  }
}
