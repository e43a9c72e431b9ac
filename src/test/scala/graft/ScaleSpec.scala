package graft

import org.apache.spark.sql.functions._

import graft.plans.Scale

/** Scale utilities: salted joins, two-phase top-k, bucketed co-location. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals the plain join on skewed data") {
    // 90% of rows share one hot key
    val big = spark.range(2000)
      .select(when($"id" % 10 === 0, $"id").otherwise(lit(7L)).as("k"), $"id".as("payload"))
    val small = Seq((7L, "hot"), (0L, "a"), (10L, "b"), (20L, "c")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select($"k", $"payload", $"name")
    val salted = Scale.saltedJoin(big, small, "k", salt = 8).select($"k", $"payload", $"name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("adaptive salted cell join: identical pair set, hot cell fans out, " +
      "cold cells stay single-slice") {
    // hot cell: 300 rows on key 7 (self-pair cost 90k); cold cells: ≤ 3 rows
    val rows = spark.range(330)
      .select(when($"id" < 300, lit(7L)).otherwise($"id" % 10 + 100L).as("cell"),
        $"id".as("vid"))
    val probe = rows.select($"cell", $"vid")
    val index = rows.select($"cell", $"vid".as("nid"))
    val plain = probe.join(index, Seq("cell")).select($"cell", $"vid", $"nid")
    val routed = Scale.adaptiveSaltedCellJoin(probe, index, "cell",
        targetPairsPerTask = 10000L, maxSalt = 8)
      .select($"cell", $"vid", $"nid")
    assert(routed.exceptAll(plain).isEmpty && plain.exceptAll(routed).isEmpty,
      "adaptive salting must not change the joined pair multiset")
    // the hot cell's 90k pairs must not land on one reducer: with a 10k
    // pair target its slices spread over several shuffle partitions
    val hotParts = routed.where($"cell" === 7L)
      .select(spark_partition_id()).distinct().count()
    assert(hotParts > 1, s"hot cell must fan out across tasks, saw $hotParts partition(s)")
  }

  test("skew-aware join salts on a skewed fixture, stays plain otherwise, same result") {
    // 90% of 20k rows share one hot key → the 1/64 row sample must see it
    val big = spark.range(20000)
      .select(when($"id" % 10 === 0, $"id").otherwise(lit(7L)).as("k"), $"id".as("payload"))
    val small = Seq((7L, "hot"), (0L, "a"), (10L, "b"), (20L, "c")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select($"k", $"payload", $"name")
    // threshold below the hot key's ~18k rows → salted branch
    val skewed = Scale.skewAwareJoin(big, small, "k", rowThreshold = 5000L, salt = 8)
      .select($"k", $"payload", $"name")
    assert(skewed.queryExecution.analyzed.toString.contains("__salt"),
      "the skewed fixture must take the salted branch")
    assert(skewed.count() === plain.count())
    assert(skewed.exceptAll(plain).isEmpty && plain.exceptAll(skewed).isEmpty)
    // threshold above any key's count → plain equi-join, no salt fan-out
    val unsalted = Scale.skewAwareJoin(big, small, "k", rowThreshold = 100000L, salt = 8)
    assert(!unsalted.queryExecution.analyzed.toString.contains("__salt"),
      "an unskewed decision must not pay the salt fan-out")
    assert(unsalted.select($"k", $"payload", $"name").count() === plain.count())
  }

  test("q02's production path goes through the skew-aware join (plain branch on TPC-H shape)") {
    // the deployed site: q02AbandonedLines must produce the same rows as
    // the direct equi-join it wraps, and on ~7-lines-per-order data the
    // probe must choose the plain branch (no salt fan-out in the plan)
    val lines = graft.operators.CartAnalytics.q02AbandonedLines(spark, sf)
    assert(!lines.queryExecution.analyzed.toString.contains("__salt"))
    val li = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_partkey")
    val ab = Tables.load(spark, sf, "orders")
      .where($"o_orderstatus" === "O").select($"o_orderkey")
    val direct = li.join(ab, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_partkey")
    assert(lines.exceptAll(direct).isEmpty && direct.exceptAll(lines).isEmpty)
  }

  test("skewed-corpus shape (gen_sf_local --skew): the probe takes the salted branch") {
    // the exact key distribution tools/gen_sf_local.py --skew writes:
    // 20% of orders on one hot o_custkey, the rest uniform — the 1/64
    // position sample must surface the hot key and salt the join, and
    // the salted result must equal the plain join row-for-row
    val nOrd = 60000
    val big = spark.range(nOrd).select(
      when(pmod($"id" * 2654435761L, lit(5)) === 0, lit(0L))
        .otherwise(pmod($"id" * 40503L, lit(6000))).as("o_custkey"),
      $"id".as("o_orderkey"))
    val small = spark.range(6000)
      .select($"id".as("o_custkey"), concat(lit("Customer#"), $"id").as("c_name"))
    val joined = Scale.skewAwareJoin(big, small, "o_custkey",
      rowThreshold = nOrd / 10, salt = 8)
    assert(joined.queryExecution.analyzed.toString.contains("__salt"),
      "a 20%-hot customer key must trip the salted branch")
    val plain = big.join(small, Seq("o_custkey"))
    assert(joined.select($"o_custkey", $"o_orderkey", $"c_name")
      .exceptAll(plain.select($"o_custkey", $"o_orderkey", $"c_name")).isEmpty)
    assert(plain.count() === joined.count())
  }

  test("AQE skew-join splitting fires on a hot shuffle partition") {
    // beyond the explicit salt: Spark's own OptimizeSkewedJoin must
    // kick in on a skewed sort-merge join once the (lowered) size
    // thresholds are met — the runtime safety net the session enables
    // (spark.sql.adaptive.skewJoin.enabled) for joins that are not
    // routed through skewAwareJoin
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(200000).select(
        when($"id" % 5 === 0, $"id").otherwise(lit(7L)).as("k"),
        concat(lit("payload-payload-payload-"), $"id").as("pad"))
      val right = spark.range(50000)
        .select($"id".as("k"), concat(lit("right-"), $"id").as("rpad"))
      val joined = big.join(right, Seq("k"))
      // execute THIS frame's own plan (count() would plan a separate
      // aggregate query and leave joined's adaptive plan unfinalized)
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the hot partition's SMJ as skew-split, plan:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("two-phase top-k per key equals the single-window top-k") {
    val df = spark.range(5000).select(
      ($"id" % 13).as("g"), ($"id" * 2654435761L % 1000003L).as("score"), $"id")
    val naive = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
      df.withColumn("r", row_number().over(w)).where($"r" <= 5).drop("r")
    }
    val phased = Scale.twoPhaseTopKByKey(df.repartition(16), $"g",
      Seq($"score".desc, $"id".asc), 5)
    assert(phased.count() === naive.count())
    assert(phased.exceptAll(naive).isEmpty && naive.exceptAll(phased).isEmpty)
  }

  test("two-phase RANKED top-k equals the single-window ranked top-k") {
    val df = spark.range(5000).select(
      ($"id" % 13).as("g"), ($"id" * 2654435761L % 1000003L).as("score"), $"id")
    val naive = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
      df.withColumn("rank", row_number().over(w)).where($"rank" <= 5)
    }
    val phased = Scale.twoPhaseTopKRanked(df.repartition(16), $"g",
      Seq($"score".desc, $"id".asc), 5, "rank")
      .select($"g", $"score", $"id", $"rank")
    assert(phased.count() === naive.count())
    assert(phased.exceptAll(naive).isEmpty && naive.exceptAll(phased).isEmpty,
      "ranks must agree row-for-row with the naive single window")
  }

  test("quadratic-baseline guard: d05 refuses an over-cap corpus") {
    import graft.operators.Dedup
    intercept[IllegalArgumentException] {
      Dedup.requireBaselineSize(Dedup.BaselineMaxVectors + 1,
        Dedup.BaselineMaxVectors, "d05_embedding_neardup", "Similarity.s02")
    }
    Dedup.requireBaselineSize(10, Dedup.BaselineMaxVectors, "d05", "s02") // under cap: fine
  }

  test("the doc-corpus baselines carry their own (higher) cap: 50k docs run, " +
      "the vector cap stays tight") {
    import graft.operators.Dedup
    // r10 regression: d02/d06 shared d05's 25k-vector cap and refused the
    // 50k-doc sf1 corpus their inverted-index pair stage handles in
    // seconds. The two cost models get separate knobs.
    assert(Dedup.BaselineMaxDocs > 50000L,
      "inverted-index baselines must admit the measured 50k-doc corpus")
    assert(Dedup.BaselineMaxVectors <= 25000L,
      "the all-pairs vector cap stays at its measured ~5-minute bound")
    val msg = intercept[IllegalArgumentException] {
      Dedup.requireBaselineSize(Dedup.BaselineMaxDocs + 1, Dedup.BaselineMaxDocs,
        "d02_ngram_jaccard", "Dedup.minhashLsh", "GRAFT_BASELINE_MAX_DOCS")
    }.getMessage
    assert(msg.contains("GRAFT_BASELINE_MAX_DOCS"),
      s"over-cap refusal must name the right override knob: $msg")
  }

  test("bucketed co-join plans without exchanges") {
    val orders = Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_totalprice")
    val lines = Tables.load(spark, sf, "lineitem").select($"l_orderkey".as("o_orderkey"), $"l_extendedprice")
    Scale.Bucketing.writeBucketed(orders, "graftdb", "orders_b", "o_orderkey", 8)
    Scale.Bucketing.writeBucketed(lines, "graftdb", "lineitem_b", "o_orderkey", 8)
    // force the sort-merge path (sf0.001 tables would auto-broadcast and
    // hide the bucketing benefit this test is about)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Scale.Bucketing.cojoin(spark, "graftdb", "orders_b", "lineitem_b", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge over buckets:\n$plan")
      // and it returns the same rows as the plain join
      assert(joined.count() === orders.join(lines, Seq("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("spreadIfNarrow: fires on a big single-row-group file, memoizes the " +
      "decision per content state, re-probes after an in-place rewrite") {
    // the fixture is ~12 MB / 1 row group, sized against the 4 MB
    // floor (Scale.SpreadMinBytes); on a single-core session the spread
    // legitimately never fires — cancel rather than fail confusingly
    assume(spark.sparkContext.defaultParallelism >= 2,
      "needs defaultParallelism >= 2 for groups*2 <= target to hold")
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    val path = s"$dir/docs.parquet"
    val target = spark.sparkContext.defaultParallelism
    // ~12 MB of incompressible hex in one file → one row group (default
    // 128 MB row-group size); repeated-char text would snappy-compress
    // below the 4 MB floor
    spark.range(2000)
      .select($"id", expr(
        "concat_ws('', transform(sequence(1, 200), i -> md5(concat(id, '-', i))))").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val spread1 = Scale.spreadIfNarrow(spark.read.parquet(path))
    assert(spread1.rdd.getNumPartitions === target,
      "big single-row-group scan must spread to session parallelism")
    // memo hit on a FRESH read of the same root: same decision
    val spread2 = Scale.spreadIfNarrow(spark.read.parquet(path))
    assert(spread2.rdd.getNumPartitions === target)
    // overwriting the source in place with different bytes is a new
    // content state: the decision re-probes, and the tiny file is below
    // the 4 MB floor → structural no-op
    spark.range(10).select($"id", lit("t").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val fresh = spark.read.parquet(path)
    val noop = Scale.spreadIfNarrow(fresh)
    assert(noop eq fresh, "sub-floor scan must be left untouched")
  }
}
