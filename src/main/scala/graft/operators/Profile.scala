package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Reusable column-profile surface — the engine's equivalent of the
  * reference's `dbutils.data.summarize` cells (SURVEY §2.4 A11; reference
  * dbc cmds 2, 7, 42, 43): per-column statistics over arbitrary
  * DataFrames, not just the q15/q17 oracle queries (which delegate here).
  *
  * Scale design: ONE wide aggregate (partial-aggregated map-side) feeds
  * every per-column output row. The 1-row aggregate is persisted, so the
  * per-column union branches substitute the cached plan instead of each
  * replanning the whole scan+aggregate (without the persist, Spark reuses
  * NOTHING across union branches — measured 3 FileScans for 3 columns).
  * The query stays lazy and its real plan stays visible to plan tests.
  *
  * Numeric contract — read before pointing this at arbitrary columns:
  *  - mean and stddev are computed on values quantized to `scale`
  *    decimal places (default 2 — exact for the engine's money
  *    convention and for integer keys); min/max/median/zeros/distinct
  *    use the RAW values. Columns with sub-grid magnitudes (ratios,
  *    embedding scores) need a larger `scale` or their mean/stddev
  *    quantize toward zero while min/max stay raw.
  *  - capacity: values must fit DECIMAL(19, scale) and
  *    Σx²·10^(2·scale) must stay under 10^38 (the DECIMAL(38, 2·scale)
  *    sum-of-squares accumulator); beyond that the profile FAILS LOUDLY
  *    on both engines (ANSI overflow here, out-of-range in the oracle)
  *    rather than silently degrading.
  *  - each call persists its 1-row wide aggregate (a CacheManager entry
  *    shared by the column branches); long-lived callers profiling many
  *    distinct inputs should `spark.catalog.clearCache()` periodically.
  *  - stddev uses the sum-of-squares algebra
  *    `sqrt(greatest(0, sum2/n − mean²))`, clamped at zero because a
  *    constant column can land one ulp negative.
  */
object Profile {

  /** Numeric profile: one output row per column —
    * count / nonnull / distinct / zeros / min / max / mean / stddev /
    * median (exact linear-interpolated percentile). */
  def summarize(df: DataFrame, numericCols: Seq[String], scale: Int = 2): DataFrame = {
    require(numericCols.nonEmpty, "summarize needs at least one column")
    val aggs = numericCols.flatMap { c =>
      val x = df(c) // exact-name resolution — no dot/backtick parsing
      val d = x.cast(DecimalType(19, scale))
      Seq(
        count(x).as(s"${c}__nonnull"),
        countDistinct(x).as(s"${c}__distinct"),
        sum(when(x === 0, 1L).otherwise(0L)).as(s"${c}__zeros"),
        min(x).cast(DoubleType).as(s"${c}__min"),
        max(x).cast(DoubleType).as(s"${c}__max"),
        (sum(x.cast(DecimalType(28, scale))).cast(DoubleType) /
          count(x).cast(DoubleType)).as(s"${c}__mean"),
        sum(d * d).as(s"${c}__sum2"),
        percentile(x, lit(0.5)).as(s"${c}__median")) // exact, linear-interpolated
    } :+ count(lit(1)).as("n_rows")
    // persisted: the per-column branches below each reference this 1-row
    // frame; the cache substitution makes them share ONE scan+aggregate
    val wide = df.agg(aggs.head, aggs.tail: _*)
      .transform(graft.operators.Dedup.persistOnce)
    val perCol = numericCols.map { c =>
      val mean = wide(s"${c}__mean")
      wide.select(
        lit(c).as("column_name"),
        wide("n_rows"),
        wide(s"${c}__nonnull").as("n_nonnull"),
        wide(s"${c}__distinct").as("n_distinct"),
        wide(s"${c}__zeros").as("n_zeros"),
        wide(s"${c}__min").as("min_value"),
        wide(s"${c}__max").as("max_value"),
        mean.as("mean_value"),
        // clamp at 0: a constant column's sum2/n and mean² can differ by
        // one ulp with mean² larger — Spark's sqrt(-ε) is NaN but DuckDB
        // ERRORS, so both sides of the oracle clamp identically; for an
        // all-null column the null-ignoring greatest yields 0.0
        sqrt(greatest(lit(0.0), wide(s"${c}__sum2").cast(DoubleType) /
          wide(s"${c}__nonnull").cast(DoubleType) - mean * mean)).as("stddev_value"),
        wide(s"${c}__median").as("median_value"))
    }
    perCol.reduce(_.unionAll(_)).orderBy(col("column_name").asc)
  }

  // ---------------------------------------------------------------------
  // Per-value HISTOGRAMS — the mergeable carrier of summarize's
  // statistics (r18, the r17 verdict's "profile_ mergeable-statistic
  // refresh"). Exact countDistinct and the exact interpolated median are
  // NOT mergeable from final statistics, but they ARE mergeable from
  // per-value counts: histogram(A ∪ B) re-aggregates to
  // histogram(A) ⊎ histogram(B), so an appended fact folds in at
  // O(batch) cost (file-level link + batch histogram) instead of a full
  // re-profile. MULTISET CONTRACT: a histogram table may hold SEVERAL
  // partial histograms (previous generation's files plus batch files
  // after an append refresh); every consumer below re-aggregates by
  // value first, so a multiset table reads identically to a single-pass
  // build. Value slots are TYPED (vl LONG for integral columns, vd
  // DOUBLE for fractional) so every derived statistic runs the SAME
  // expression over the SAME input type as [[summarize]] — no lossy
  // common-type coercion anywhere.
  // ---------------------------------------------------------------------

  /** Per-value counts of `numericCols`: (column_name, vl, vd, c) — one
    * pruned scan + one map-side-combinable groupBy per column. NULL
    * values keep their own count row (n_rows/n_nonnull need it). */
  def histogram(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    require(numericCols.nonEmpty, "histogram needs at least one column")
    numericCols.map { c =>
      val counts = df.groupBy(df(c).as("v")).agg(count(lit(1)).as("c"))
      val (vl, vd) = df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          (col("v").cast(LongType).as("vl"), lit(null).cast(DoubleType).as("vd"))
        case DoubleType | FloatType =>
          (lit(null).cast(LongType).as("vl"), col("v").cast(DoubleType).as("vd"))
        case other => throw new IllegalArgumentException(
          s"histogram: unsupported type $other for column $c " +
            "(integral and float/double only — a DECIMAL column would " +
            "need its own exactly-typed value slot)")
      }
      counts.select(lit(c).as("column_name"), vl, vd, col("c"))
    }.reduce(_.unionAll(_))
  }

  /** Per-value counts of string columns: (column_name, v, c). */
  def stringHistogram(df: DataFrame, strCols: Seq[String]): DataFrame = {
    require(strCols.nonEmpty, "stringHistogram needs at least one column")
    strCols.map { c =>
      df.groupBy(df(c).as("v")).agg(count(lit(1)).as("c"))
        .select(lit(c).as("column_name"), col("v"), col("c"))
    }.reduce(_.unionAll(_))
  }

  /** Whether each of `numericCols` is integral in `df` — the histogram
    * value-slot assignment [[summarizeFromHistogram]] must mirror. */
  def columnKinds(df: DataFrame, numericCols: Seq[String]): Seq[(String, Boolean)] =
    numericCols.map { c =>
      (c, df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }

  /** [[summarize]] derived from a per-value histogram instead of the raw
    * rows — BIT-IDENTICAL output (ProfileHistSpec pins it): every
    * aggregate is re-derived from (value, count) with the same
    * expression tree over the same input type, and the median replays
    * Spark Percentile's exact arithmetic (`position = 0.5 * (n-1)`;
    * result = `(higher-position)*lowerKey + (position-lower)*higherKey`
    * with the same no-fraction / same-key short-circuits) over a
    * DISTRIBUTED rank-select — no per-partition value map, no
    * single-reducer merge of them, which is what made the raw-row
    * profile the largest build line (guide §1.2: fix the algorithm).
    *
    * `materialize = false` builds the PLAN without registering cache
    * entries — for artifact-key derivation only;
    * executing a non-materialized plan recomputes a range exchange per
    * consumer and must not be done. Frames persisted during an
    * artifact build are released after the artifact write (the family
    * owns them, see [[graft.sources.ArtifactFamily]]). */
  private[graft] def summarizeFromHistogram(hist: DataFrame,
      colKinds: Seq[(String, Boolean)], scale: Int = 2,
      materialize: Boolean = true): DataFrame = {
    require(colKinds.nonEmpty, "summarizeFromHistogram needs at least one column")
    def keep(df: DataFrame): DataFrame =
      if (!materialize) df else graft.operators.Dedup.persistOnce(df)
    val perCol = colKinds.map { case (c, integral) =>
      val vcol = if (integral) col("vl") else col("vd")
      // re-aggregate the multiset: one row per distinct value (null
      // group included); consumed by the wide aggregate AND the median
      val hc = keep(hist.where(col("column_name") === c)
        .groupBy(vcol.as("v")).agg(sum(col("c")).as("cnt")))
      val x = col("v")
      val d = x.cast(DecimalType(19, scale))
      val cnt = col("cnt")
      val cntDec = cnt.cast(DecimalType(20, 0))
      // the same accumulators as summarize's wide aggregate, weighted by
      // the value count — decimal sums are exact, so Σ f(v)·cnt(v) is
      // the per-row Σ f(x) bit for bit after the final double cast
      val wide = hc.agg(
        sum(cnt).as("n_rows"),
        sum(when(x.isNotNull, cnt).otherwise(lit(0L))).as("nonnull"),
        count(x).as("n_distinct"), // one histogram row per distinct value
        sum(when(x === 0, cnt).otherwise(lit(0L))).as("zeros"),
        min(x).cast(DoubleType).as("min_value"),
        max(x).cast(DoubleType).as("max_value"),
        sum(x.cast(DecimalType(28, scale)) * cntDec).as("sum_dec"),
        sum(d * d * cntDec).as("sum2"))
      val med = medianFromCounts(
        hc.where(x.isNotNull).select(x.as("v"), cnt.as("cnt")), keep)
      val mean = col("sum_dec").cast(DoubleType) / col("nonnull").cast(DoubleType)
      wide.crossJoin(broadcast(med)).select(
        lit(c).as("column_name"),
        col("n_rows"),
        col("nonnull").as("n_nonnull"),
        col("n_distinct"),
        col("zeros").as("n_zeros"),
        col("min_value"),
        col("max_value"),
        mean.as("mean_value"),
        // identical final tree to summarize (incl. the one-ulp clamp)
        sqrt(greatest(lit(0.0), col("sum2").cast(DoubleType) /
          col("nonnull").cast(DoubleType) - mean * mean)).as("stddev_value"),
        col("median_value"))
    }
    perCol.reduce(_.unionAll(_)).orderBy(col("column_name").asc)
  }

  /** Exact interpolated median over a (v, cnt) frame (v non-null, one
    * row per distinct value) as a 1-row (median_value DOUBLE) frame —
    * Spark Percentile(0.5)'s arithmetic, distributed.
    *
    * Rank layout: value-ascending range partitions; exclusive partition
    * offsets come from a ≤parallelism-row broadcast theta-join (p02's
    * top-level idiom — bounded by the session's parallelism, never by
    * data), within-partition offsets from a pid-local window. Each value
    * row then owns the global rank interval [start, end); the rows
    * covering ranks floor(position) / ceil(position) — at most two —
    * feed the interpolation. The range-partitioned frame MUST be
    * materialized (`keep`): its partition ids appear in two consumers,
    * and an unmaterialized recompute could draw different range bounds
    * for each. */
  private def medianFromCounts(vals: DataFrame,
      keep: DataFrame => DataFrame): DataFrame = {
    val spark = vals.sparkSession
    // Percentile: position = percentage * (count - 1), floor/ceil → LONG
    val params = vals.agg(sum(col("cnt")).as("n"))
      .select((lit(0.5) * (col("n") - lit(1L)).cast(DoubleType)).as("pos"))
      .select(col("pos"), floor(col("pos")).as("lo"), ceil(col("pos")).as("hi"))
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val ranged = keep(vals.repartitionByRange(p, col("v").asc)
      .withColumn("pid", spark_partition_id()))
    val totals = ranged.groupBy(col("pid")).agg(sum(col("cnt")).as("t"))
    val offs = totals.as("a")
      .join(broadcast(totals.as("b")), col("b.pid") < col("a.pid"), "left_outer")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.t")), lit(0L)).as("off"))
    val w = Window.partitionBy(col("pid")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = ranged
      .join(broadcast(offs), Seq("pid"))
      .withColumn("start", col("off") + coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("end", col("start") + col("cnt"))
    val sel = ranked.crossJoin(broadcast(params))
      .where(col("start") <= col("hi") && col("lo") < col("end"))
      .agg(
        min(when(col("start") <= col("lo") && col("lo") < col("end"), col("v")))
          .as("vlo"),
        min(when(col("start") <= col("hi") && col("hi") < col("end"), col("v")))
          .as("vhi"))
    sel.crossJoin(broadcast(params)).select(
      when(col("lo") === col("hi"), col("vlo").cast(DoubleType))
        // one histogram row covers both ranks → no interpolation
        // (Percentile's higherKey == lowerKey branch); also the empty-
        // input case (all columns null → NULL, like percentile)
        .when(col("vhi") <=> col("vlo"), col("vlo").cast(DoubleType))
        .otherwise(
          (col("hi").cast(DoubleType) - col("pos")) * col("vlo").cast(DoubleType) +
            (col("pos") - col("lo").cast(DoubleType)) * col("vhi").cast(DoubleType))
        .as("median_value"))
  }

  /** [[summarizeStrings]] derived from a string histogram — identical
    * output: the re-aggregated (v, cnt) frame is row-identical to
    * summarizeStrings's own per-column counts, and the modal/distinct
    * aggregate is the same expression tree. */
  private[graft] def summarizeStringsFromHistogram(hist: DataFrame,
      strCols: Seq[String]): DataFrame = {
    require(strCols.nonEmpty, "summarizeStringsFromHistogram needs at least one column")
    val perCol = strCols.map { c =>
      val counts = hist.where(col("column_name") === c)
        .groupBy(col("v")).agg(sum(col("c")).as("cnt"))
      counts.agg(
          count(lit(1)).as("n_distinct"),
          expr("max_by(v, struct(cnt, v))").as("top_value"),
          max(struct(col("cnt"), col("v"))).getField("cnt").as("top_freq"))
        .select(lit(c).as("column_name"), col("n_distinct"),
          col("top_value"), col("top_freq"))
    }
    perCol.reduce(_.unionAll(_)).orderBy(col("column_name").asc)
  }

  /** String profile (the top/freq half of summarize): per column, the
    * distinct count and the modal value with its frequency — one groupBy
    * per column over a pruned scan, modal pick via max_by with a
    * deterministic (count, value) tiebreak. */
  def summarizeStrings(df: DataFrame, strCols: Seq[String]): DataFrame = {
    require(strCols.nonEmpty, "summarizeStrings needs at least one column")
    val perCol = strCols.map { c =>
      val counts = df.groupBy(df(c).as("v")).agg(count(lit(1)).as("cnt"))
      counts.agg(
          count(lit(1)).as("n_distinct"),
          expr("max_by(v, struct(cnt, v))").as("top_value"),
          max(struct(col("cnt"), col("v"))).getField("cnt").as("top_freq"))
        .select(lit(c).as("column_name"), col("n_distinct"),
          col("top_value"), col("top_freq"))
    }
    perCol.reduce(_.unionAll(_)).orderBy(col("column_name").asc)
  }
}
