package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Profile

/** The histogram-derived profile (r18) must be BIT-IDENTICAL to the
  * raw-row [[Profile.summarize]] — the q15/q17 artifacts it now builds
  * are hash-compared against the DuckDB oracle's raw re-derivation every
  * gate, so "close" is not a pass. Doubles are compared via raw bits
  * (doubleToRawLongBits), not tolerance.
  *
  * The median is the risk surface: summarizeFromHistogram replays Spark
  * Percentile's exact arithmetic (position = 0.5·(n−1), the two
  * short-circuits, the (hi−pos)·lo + (pos−lo)·hi interpolation) over a
  * distributed rank-select, so the cases below force every branch:
  * integral position, fractional position between DISTINCT values,
  * fractional position inside one repeated value's rank span, and the
  * two ranks split across different range partitions.
  */
class ProfileHistSpec extends SparkSpec {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Row-by-row bit-exact comparison keyed by column_name. */
  private def assertSameProfile(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (a.collect(), b.collect())
    assert(ra.map(_.getString(0)).toSeq === rb.map(_.getString(0)).toSeq)
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)))
    ra.zip(rb).foreach { case (x, y) =>
      (0 until x.length).foreach { i =>
        val (vx, vy) = (x.get(i), y.get(i))
        (vx, vy) match {
          case (dx: Double, dy: Double) =>
            assert(bits(dx) === bits(dy),
              s"column ${a.schema(i).name} of ${x.getString(0)}: $dx vs $dy")
          case _ => assert(vx === vy,
            s"column ${a.schema(i).name} of ${x.getString(0)}")
        }
      }
    }
  }

  private def viaHist(df: DataFrame, cols: Seq[String]): DataFrame =
    Profile.summarizeFromHistogram(
      Profile.histogram(df, cols), Profile.columnKinds(df, cols))

  test("histogram-derived profile ≡ summarize: nulls, zeros, duplicates, interpolation") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, 4.0), (3L, 6.0), (0L, null), (4L, 8.0),
      (2L, 4.0), (2L, 2.5), (7L, 0.0), (null, 3.25))
      .toDF("k", "v")
    assertSameProfile(Profile.summarize(df, Seq("k", "v")), viaHist(df, Seq("k", "v")))
  }

  test("median branches: integral / fractional-distinct / fractional-inside-a-run") {
    // odd count → integral position (no interpolation)
    val odd = Seq(10L, 20L, 30L, 40L, 50L).toDF("x")
    // even count, ranks fall on two DISTINCT values → real interpolation
    val evenDistinct = Seq(1L, 2L, 3L, 10L).toDF("x")
    // even count, both ranks inside one repeated value's span → the
    // higherKey == lowerKey short-circuit
    val evenRun = Seq(1L, 5L, 5L, 9L).toDF("x")
    // fractional doubles (interpolation arithmetic on non-integers)
    val dbl = Seq(0.1, 0.25, 7.5, 7.75, 100.125, 3.0).toDF("x")
    Seq(odd, evenDistinct, evenRun, dbl).foreach { df =>
      assertSameProfile(Profile.summarize(df, Seq("x")), viaHist(df, Seq("x")))
    }
  }

  test("constant column: stddev zero-clamp and single-value median survive the histogram") {
    val df = spark.range(100).select(lit(7L).as("c"))
    assertSameProfile(Profile.summarize(df, Seq("c")), viaHist(df, Seq("c")))
  }

  test("randomized frame: bit-identity across many partitions (ranks split across ranges)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      (if (rnd.nextInt(50) == 0) null else java.lang.Long.valueOf(rnd.nextInt(400).toLong),
        java.lang.Double.valueOf(math.rint(rnd.nextGaussian() * 10000) / 100.0))
    }
    val df = rows.toDF("k", "v").repartition(16)
    assertSameProfile(Profile.summarize(df, Seq("k", "v")), viaHist(df, Seq("k", "v")))
  }

  test("MULTISET histogram (split partial histograms) derives the same profile") {
    // the append-refresh artifact shape: previous generation's histogram
    // files plus batch-derived files — the same value may carry count
    // rows in both halves; consumers must re-aggregate by value
    val a = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, 4.0), (2L, 4.0), (0L, null)).toDF("k", "v")
    val b = Seq[(java.lang.Long, java.lang.Double)](
      (2L, 4.0), (3L, 9.0), (null, 2.0), (5L, 2.0)).toDF("k", "v")
    val whole = a.unionAll(b)
    val multiset = Profile.histogram(a, Seq("k", "v"))
      .unionAll(Profile.histogram(b, Seq("k", "v")))
    assertSameProfile(
      Profile.summarize(whole, Seq("k", "v")),
      Profile.summarizeFromHistogram(multiset,
        Profile.columnKinds(whole, Seq("k", "v"))))
  }

  test("string profile from a multiset histogram ≡ summarizeStrings") {
    val a = Seq("b", "a", "b").toDF("s")
    val b = Seq("c", "a", "b", "a").toDF("s")
    val whole = a.unionAll(b)
    val multiset = Profile.stringHistogram(a, Seq("s"))
      .unionAll(Profile.stringHistogram(b, Seq("s")))
    val direct = Profile.summarizeStrings(whole, Seq("s")).collect()
    val viaH = Profile.summarizeStringsFromHistogram(multiset, Seq("s")).collect()
    assert(direct.toSeq === viaH.toSeq)
  }

  test("profile refresh ≡ from-scratch rebuild on an appended orders fact (artifact level)") {
    // miniature orders lifecycle: oldDir → newDir = oldDir + batch with
    // fresh keys; the refreshed artifacts must read row-identically to
    // what a cold q15/q17 on newDir computes (same table names, too)
    val tmp = java.nio.file.Files.createTempDirectory("profrefresh").toString
    val oldDir = s"$tmp/old"
    val newDir = s"$tmp/new"
    def ordersOf(rows: Seq[(Long, Long, String, Double, java.sql.Timestamp, String)]) =
      rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val t0 = java.sql.Timestamp.valueOf("1995-03-04 00:00:00")
    val oldRows = (0L until 40L).map(i =>
      (i, i % 7, Seq("O", "P", "F")(i.toInt % 3), 100.0 + 3.25 * i, t0, s"${i % 5}-PRIO"))
    val batchRows = (40L until 52L).map(i =>
      (i, i % 5, Seq("O", "P", "F")(i.toInt % 3), 90.5 + 7.75 * i, t0, s"${i % 5}-PRIO"))
    ordersOf(oldRows).write.parquet(s"$oldDir/orders.parquet")
    ordersOf(oldRows ++ batchRows).write.parquet(s"$newDir/orders.parquet")

    import graft.operators.{CartAnalytics, Dedup}
    // build the old generation, then refresh onto the new state through
    // the append entry point (an orders-only corpus refreshes exactly
    // the two orders histograms; the statistics have no refresh shape
    // and build on their first serve, from the refreshed histograms)
    CartAnalytics.ProfHist.serve(spark, oldDir)
    CartAnalytics.ProfStrHist.serve(spark, oldDir)
    val refreshed = Dedup.refreshArtifactsAfterAppend(spark, oldDir, newDir).toMap
    assert(refreshed.keySet === Set("profhist", "profstrh"))
    val refreshedNum = CartAnalytics.ProfileStats.serve(spark, newDir).collect()
    val refreshedStr = CartAnalytics.ProfileStrStats.serve(spark, newDir).collect()

    // from-scratch comparator computed WITHOUT artifacts
    val newOrders = spark.read.parquet(s"$newDir/orders.parquet")
    val scratchNum = Profile.summarize(newOrders, CartAnalytics.ProfileNumCols).collect()
    val scratchStr = Profile.summarizeStrings(newOrders, CartAnalytics.ProfileStrCols).collect()
    assert(refreshedNum.sortBy(_.getString(0)).toSeq === scratchNum.sortBy(_.getString(0)).toSeq)
    assert(refreshedStr.sortBy(_.getString(0)).toSeq === scratchStr.sortBy(_.getString(0)).toSeq)

    // and a cold consumer on newDir serves the refreshed tables (same key)
    assert(CartAnalytics.q15ProfileOrders(spark, newDir).collect().toSeq ===
      refreshedNum.sortBy(_.getString(0)).toSeq)
  }
}
