package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GraftFunctions, SortedIntersectCount}

/** The merge-count kernel behind PPJoin's verify: on ascending,
  * duplicate-free LONG arrays it must equal size(array_intersect(...))
  * of the two leading slices, interpreted and codegen'd alike. */
class SortedIntersectCountSpec extends SparkSpec {

  private val arr = ArrayType(LongType, containsNull = false)
  private val kernel = SortedIntersectCount(BoundReference(0, arr, nullable = false),
    BoundReference(1, arr, nullable = false), BoundReference(2, LongType, nullable = false),
    BoundReference(3, LongType, nullable = false))
  private val interpreted = InterpretedUnsafeProjection.createProjection(Seq(kernel))
  private val codegen = GenerateUnsafeProjection.generate(Seq(kernel))

  /** (interpreted, codegen'd) counts over the leading `ea` / `eb`. */
  private def counts(a: Seq[Long], b: Seq[Long], ea: Long, eb: Long): (Long, Long) = {
    val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(a.toArray),
      UnsafeArrayData.fromPrimitiveArray(b.toArray), ea, eb)
    (interpreted(row).getLong(0), codegen(row).getLong(0))
  }

  /** Spark's own size(array_intersect(...)) of the leading slices. */
  private def reference(a: Seq[Long], b: Seq[Long], ea: Long, eb: Long): Long = {
    def lead(x: Seq[Long], e: Long) =
      Literal.create(x.take(math.max(0L, math.min(e, x.size.toLong)).toInt), arr)
    Size(ArrayIntersect(lead(a, ea), lead(b, eb))).eval().asInstanceOf[Int].toLong
  }

  private def check(a: Seq[Long], b: Seq[Long], ea: Long = Long.MaxValue,
      eb: Long = Long.MaxValue): Long = {
    val want = reference(a, b, ea, eb)
    assert(counts(a, b, ea, eb) === (want -> want), s"a=$a b=$b ea=$ea eb=$eb")
    want
  }

  /** Ascending, duplicate-free arrays over a narrow range (so they
    * overlap often) with the long extremes mixed in. */
  private val sorted: Gen[Seq[Long]] =
    Gen.containerOf[Set, Long](Gen.frequency(
      20 -> Gen.chooseNum(-30L, 30L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))).map(_.toSeq.sorted)

  private val bound: Gen[Long] =
    Gen.frequency(3 -> Gen.chooseNum(-2L, 70L), 1 -> Gen.const(Long.MaxValue))

  test("merge count equals size(array_intersect) on random sorted arrays and bounds") {
    val cases = Gen.zip(sorted, sorted, bound, bound)
    (1L to 400L).foreach { seed =>
      val (a, b, ea, eb) = cases.apply(Gen.Parameters.default, Seed(seed)).get
      check(a, b)
      check(a, b, ea, eb)
    }
  }

  test("empty, disjoint and identical arrays") {
    val x = Seq(-5L, 0L, 3L, 9L)
    assert(check(Nil, Nil) === 0L)
    assert(check(x, Nil) === 0L)
    assert(check(Nil, x) === 0L)
    assert(check(x, Seq(-4L, 1L, 4L, 10L)) === 0L)
    assert(check(x, x) === 4L)
    assert(check(Seq(Long.MinValue, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)) === 2L)
  }

  test("first-occurrence bounds: the slices before a shared value") {
    // 7 sits at 1-based positions 3 of a and 2 of b; the leading slices
    // before it, a[0, 2) and b[0, 1), share 1 -> 7 is not the first
    // shared value, 1 is (its leading slices are empty)
    val a = Seq(1L, 4L, 7L, 8L)
    val b = Seq(1L, 7L, 8L)
    assert(check(a, b, 2L, 1L) === 1L)
    assert(check(a, b, 0L, 0L) === 0L)
    assert(check(Seq(4L, 7L), Seq(2L, 7L), 1L, 1L) === 0L)
    // bounds clip to [0, length]
    assert(check(a, b, -3L, 99L) === 0L)
    assert(check(a, b, 99L, 99L) === 3L)
  }

  test("Column call coerces INT bounds and runs in whole-stage codegen") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // arrays built from `id` (0) so the optimizer cannot fold the call
    val a = array(col("id") + 1, col("id") + 3, col("id") + 5)
    val b = array(col("id") + 3, col("id") + 5, col("id") + 7)
    val df = spark.range(1).select(GraftFunctions.sorted_intersect_count(a, b),
      GraftFunctions.sorted_intersect_count(a, b, lit(2), lit(1)))
    assert(finalPlan(df).linesIterator.exists(l => l.contains("*(") && l.contains("Project")))
    val r = df.head
    assert(r.getLong(0) === 2L && r.getLong(1) === 1L)
  }
}
