package graft

import org.scalacheck.{Gen, Prop, Properties}

import org.apache.spark.sql.functions._

/** ScalaCheck property suites (SURVEY.md §5.2): invariants that must hold
  * for arbitrary inputs, not just the shipped testdata. */
object InvariantProps extends Properties("graft.invariants") {

  private lazy val spark = Session.get("graft-props")
  import spark.implicits._

  private val linesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    pairs <- Gen.listOfN(n, for {
      order <- Gen.chooseNum(1L, 8L)
      part <- Gen.chooseNum(1L, 6L)
    } yield (order, part))
  } yield pairs

  property("pair dedup: each unordered co-occurring pair appears exactly once, canonical") =
    Prop.forAllNoShrink(linesGen) { pairs =>
      val lines = pairs.toDF("l_orderkey", "l_partkey")
      val c1 = lines.as("c1"); val c2 = lines.as("c2")
      val out = c1.join(c2,
          col("c1.l_orderkey") === col("c2.l_orderkey") &&
            col("c1.l_partkey") =!= col("c2.l_partkey"))
        .select(
          least(col("c1.l_partkey"), col("c2.l_partkey")).as("a"),
          greatest(col("c1.l_partkey"), col("c2.l_partkey")).as("b"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // model: expected set of unordered pairs per order
      val expected = pairs.groupBy(_._1).values.flatMap { grp =>
        val ps = grp.map(_._2).distinct
        for (x <- ps; y <- ps if x < y) yield (x, y)
      }.toSet
      out.toSet == expected && out.forall { case (a, b) => a < b } &&
        out.length == out.distinct.length
    }

  property("calendar gap-fill: spine covers every day inclusive, no dupes") =
    Prop.forAllNoShrink(Gen.chooseNum(0, 400)) { span =>
      val cal = graft.sources.Ingest.calendar(spark, "2021-06-01",
        java.time.LocalDate.parse("2021-06-01").plusDays(span).toString)
      cal.count() == span + 1 && cal.distinct().count() == span + 1
    }

  property("conditional-aggregation rewrite equals the two-subquery join (q03/q04 law)") =
    Prop.forAllNoShrink(linesGen, linesGen) { (cur, pre) =>
      // rows: (partkey, orderkey) in period 1 (cur) / period 2 (pre)
      val df = (cur.map { case (o, k) => (k, o, 1) } ++
        pre.map { case (o, k) => (k, o, 2) }).toDF("k", "o", "p")
      def triples(agg: org.apache.spark.sql.DataFrame) = agg.where(col("c") > 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val fused = triples(df.groupBy(col("k")).agg(
        countDistinct(when(col("p") === 1, col("o"))).as("c"),
        countDistinct(when(col("p") === 2, col("o"))).as("q")))
      // CartAnalytics.periodIncrease's form: per-(part, order) period
      // flags, summed per part
      val flagged = triples(df.groupBy(col("k"), col("o"))
        .agg(max(when(col("p") === 1, 1L).otherwise(0L)).as("c"),
          max(when(col("p") === 2, 1L).otherwise(0L)).as("q"))
        .groupBy(col("k")).agg(sum(col("c")).as("c"), sum(col("q")).as("q")))
      val curAgg = df.where(col("p") === 1).groupBy(col("k"))
        .agg(countDistinct(col("o")).as("c"))
      val preAgg = df.where(col("p") === 2).groupBy(col("k"))
        .agg(countDistinct(col("o")).as("q"))
      val joined = curAgg.join(preAgg, Seq("k"), "left_outer")
        .select(col("k"), col("c"), coalesce(col("q"), lit(0L)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      fused == joined && flagged == joined
    }

  property("decimal money sum is invariant under permutation and partitioning") =
    Prop.forAllNoShrink(Gen.listOfN(60, Gen.chooseNum(-1e6, 1e6))) { xs =>
      def total(vals: Seq[Double], parts: Int): Double =
        vals.toDF("v").repartition(parts)
          .agg(sum(col("v").cast("decimal(18,2)")).cast("double")).first().getDouble(0)
      total(xs, 1) == total(scala.util.Random.shuffle(xs), 7)
    }

  property("two-phase ranked top-k equals the single-window rank for any (data, k)") =
    Prop.forAllNoShrink(
      Gen.listOfN(120, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 1000L))),
      Gen.chooseNum(1, 7)) { (rows, k) =>
      // unique id tiebreak makes the order total, as the utility requires
      val df = rows.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
        .toDF("g", "score", "id").repartition(5)
      val naive = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
        df.withColumn("rank", row_number().over(w)).where($"rank" <= k)
      }.select($"g", $"score", $"id", $"rank").collect().toSet
      val phased = graft.plans.Scale
        .twoPhaseTopKRanked(df, $"g", Seq($"score".desc, $"id".asc), k, "rank")
        .select($"g", $"score", $"id", $"rank").collect().toSet
      phased == naive
    }

  property("salted join equals the plain inner join for any (data, salt)") =
    Prop.forAllNoShrink(
      Gen.listOfN(80, Gen.chooseNum(0L, 6L)),
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 9L), Gen.alphaStr.map(_.take(4)))),
      Gen.chooseNum(2, 9)) { (bigKeys, smallRows, salt) =>
      val big = bigKeys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "payload").repartition(5)
      val small = smallRows.distinct.toDF("k", "name")
      val plain = big.join(small, Seq("k"))
        .select($"k", $"payload", $"name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val salted = graft.plans.Scale.saltedJoin(big, small, "k", salt)
        .select($"k", $"payload", $"name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // multiset equality: duplicates in small must replicate identically
      salted.groupBy(identity).view.mapValues(_.length).toMap ==
        plain.groupBy(identity).view.mapValues(_.length).toMap
    }

  property("adaptive salted cell join equals the plain cell join for any " +
      "(distribution, pair target, cap)") =
    Prop.forAllNoShrink(
      Gen.listOfN(120, Gen.frequency(6 -> Gen.const(3L), 1 -> Gen.chooseNum(0L, 9L))),
      Gen.chooseNum(1L, 500L),
      Gen.chooseNum(1, 16)) { (cells, target, cap) =>
      val probe = cells.zipWithIndex.map { case (c, i) => (c, i.toLong) }
        .toDF("cell", "vid").repartition(5)
      val index = cells.zipWithIndex.map { case (c, i) => (c, i.toLong + 1000L) }
        .toDF("cell", "nid").repartition(3)
      def ms(df: org.apache.spark.sql.DataFrame) = df
        .select($"cell", $"vid", $"nid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      ms(graft.plans.Scale.adaptiveSaltedCellJoin(probe, index, "cell",
        targetPairsPerTask = target, maxSalt = cap)) ==
        ms(probe.join(index, Seq("cell")))
    }

  property("simBands pigeonhole at EVERY width: hamming-8 pair shares a clean band") =
    Prop.forAllNoShrink(
      Gen.chooseNum(2, 3),
      Gen.listOfN(3, Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.chooseNum(0, graft.operators.Dedup.HammingMax),
      Gen.listOfN(8, Gen.chooseNum(0, 179))) { (words, rs, k, flipPool) =>
      import graft.operators.Dedup.{simBands, SimSegments, HammingMax}
      val bands = simBands(words)
      // structural invariants: >= HammingMax+1 segments, disjoint per word,
      // inside the 60-bit words — the preconditions of the recall proof
      val structural = bands.length == SimSegments && SimSegments >= HammingMax + 1 &&
        bands.forall { case (wd, off, w) =>
          wd >= 1 && wd <= words && off >= 0 && off + w <= 60
        } &&
        (1 to words).forall { wd =>
          val covered = bands.filter(_._1 == wd)
            .flatMap { case (_, off, w) => off until (off + w) }
          covered.distinct.length == covered.length
        }
      // behavioral: flip <= HammingMax distinct bits of a random
      // words×60-bit signature; some band must still match exactly
      val mask60 = (1L << 60) - 1
      val a = rs.take(words).map(_ & mask60).toArray
      val b = a.clone()
      flipPool.distinct.take(k).map(_ % (words * 60)).distinct.foreach { bit =>
        b(bit / 60) ^= 1L << (bit % 60)
      }
      def band(word: Long, off: Int, w: Int): Long = (word >>> off) & ((1L << w) - 1)
      val clean = bands.exists { case (wd, off, w) =>
        band(a(wd - 1), off, w) == band(b(wd - 1), off, w)
      }
      structural && clean
    }

  property("summarize stats match independently computed model stats on money-grid values") =
    Prop.forAllNoShrink(Gen.nonEmptyListOf(Gen.chooseNum(-100000, 100000))) { cents =>
      val xs = cents.map(_ / 100.0) // exactly representable on the 0.01 grid contract
      val row = graft.operators.Profile.summarize(xs.toDF("v"), Seq("v"))
        .collect().head
      // model: exact BigDecimal accumulation, matching the documented algebra
      val n = xs.length
      val mean = xs.map(BigDecimal(_)).sum.toDouble / n.toDouble
      val sum2 = xs.map(x => BigDecimal(x) * BigDecimal(x)).sum.toDouble
      val stddev = math.sqrt(math.max(0.0, sum2 / n.toDouble - mean * mean))
      row.getAs[Long]("n_nonnull") == n.toLong &&
        row.getAs[Long]("n_distinct") == xs.distinct.length.toLong &&
        row.getAs[Long]("n_zeros") == xs.count(_ == 0.0).toLong &&
        row.getAs[Double]("min_value") == xs.min &&
        row.getAs[Double]("max_value") == xs.max &&
        math.abs(row.getAs[Double]("mean_value") - mean) < 1e-9 &&
        math.abs(row.getAs[Double]("stddev_value") - stddev) < 1e-9
    }

  // arbitrary well-formed unicode including astral codepoints (whole
  // surrogate pairs) — the inputs where a byte-walk bigram decoder
  // could drift from the string definition. Lone surrogates are
  // deliberately absent: they are ill-formed UTF-16 that Spark's
  // String→UTF8String conversion replaces before any expression runs.
  private val unicodeTextGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("é", "ß", "中", "文", "א", " "),
    1 -> Gen.oneOf("𝄞", "😀", "𐍈")
  )).map(_.mkString)

  property("graft_bigram_codes equals the codepoint-pair definition for any unicode text") =
    Prop.forAllNoShrink(Gen.listOf(unicodeTextGen)) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      rows.isEmpty || {
        val got = rows.toDF("id", "text")
          .select(col("id"), expr("graft_bigram_codes(text)").as("codes"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        rows.forall { case (id, t) =>
          val cps = t.codePoints().toArray
          val want = cps.zip(cps.drop(1)).map { case (a, b) => a.toLong * 0x110000L + b }.toSeq
          got(id) == want
        }
      }
    }
}
