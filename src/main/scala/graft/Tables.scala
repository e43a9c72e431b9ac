package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Tables mirror the reference's star schema roles (FIXTURES.md §B):
  * `orders` plays the cart-header fact ("abandoned" = `o_orderstatus = 'O'`),
  * `lineitem` the cart-lines fact, `customer`/`nation`/`region` the
  * user/region dimensions, `part`/`supplier` the small broadcast dims.
  * `documents`/`embeddings`/`events` back the training-data-pipeline
  * operators (dedup, similarity, streaming).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one synthetic table. Parquet scan → columnar, vectorized; filters
    * and projections placed on top are pushed into the scan by Catalyst.
    *
    * `events.ts` has been written by different generator versions with
    * different parquet logical types, so the loader adapts to whatever the
    * scan surfaces instead of hard-coding one physical schema:
    *  - TIMESTAMP(NANOS): Spark's converter rejects it outright unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by [[graft.Session]]),
    *    under which it surfaces as nanos-since-epoch LongType → convert to
    *    TimestampType (micro precision, floor-truncated like DuckDB's
    *    TIMESTAMP_NS→TIMESTAMP read).
    *  - TIMESTAMP(MICROS, adjusted-to-UTC): surfaces as TimestampType →
    *    pass through.
    *  - TIMESTAMP(MICROS, not adjusted): surfaces as TimestampNTZType →
    *    cast to TimestampType. Session timezone is pinned UTC, so the
    *    wall-clock values map to the same instants the nanos path produced.
    * Anything else is a generator change we haven't seen: fail loudly with
    * the file path rather than let 15 downstream queries mis-analyze.
    *
    * The parquet schema is resolved once per content state of the table
    * and then passed to the reader. Inferring it is a full Spark job
    * (a parallel footer merge), and queries load their tables on every
    * construction: re-inferring made most of the jobs a warm query
    * started before it ran. The memo is keyed by the table's content
    * fingerprint ([[graft.sources.ContentMemo]]), so a rewrite with
    * different bytes re-infers. The parquet settings that change what
    * inference returns (`nanosAsLong` among them) are fixed by
    * [[graft.Session]] and changed by no code path, so the key is the
    * table and its content alone. Only the schema is shared: every load
    * builds a fresh relation with fresh attribute ids (self-joins stay
    * unambiguous), and [[conform]] runs on every load.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas(spark, dir, name, Seq(name))(spark.read.parquet(path).schema)
    conform(spark.read.schema(schema).parquet(path), name, path)
  }

  private val schemas = new graft.sources.ContentMemo[StructType]
  private val rowCounts = new graft.sources.ContentMemo[Long]

  /** Row count of one table, probed once per content state of the table. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCounts(spark, dir, name, Seq(name))(load(spark, dir, name).count())

  /** [[load]] + [[graft.plans.Scale.spreadIfNarrow]] — for operators
    * whose per-row CPU (md5 window walks, byte scanners, 64-dim dot
    * products) dwarfs the scan itself. A single-row-group parquet file
    * yields ONE effective split no matter its size, pinning the whole
    * walk to one task locally (PERF.md 14b); the spread repartitions to
    * session parallelism exactly when the footer row-group count says
    * the scan can't parallelize, and is a structural no-op on any real
    * multi-split corpus. Wrappers opt in per operator — cheap
    * projections keep the bare scan. */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.plans.Scale.spreadIfNarrow(load(spark, dir, name))

  // -------------------------------------------------------------------
  // Load-time schema contract (VERDICT r10 task 4). Round 9 lost 15
  // queries to ONE table's parquet logical-type change surfacing as a
  // different Spark type; the events-only adaptation above generalizes
  // here to every table: each column has an expected name and a CLASS of
  // acceptable surfaced types (with a normalizing cast where consumers
  // need one canonical form). Drift inside a class loads fine; a missing
  // column or a type outside its class fails LOUDLY, naming the file,
  // the column, what surfaced, and what the contract accepts — instead
  // of letting downstream queries mis-analyze. Extra columns pass
  // through (a generator may add columns without breaking consumers).
  // -------------------------------------------------------------------
  import org.apache.spark.sql.types._

  /** A class of acceptable surfaced types for one contract column. */
  private[graft] sealed abstract class Cls(val label: String) {
    def ok(t: DataType): Boolean
    /** Normalize an accepted type to the canonical form consumers were
      * written against (identity for most classes). */
    def adapt(df: DataFrame, c: String, t: DataType): DataFrame = df
  }
  /** Integer-valued keys/counts: any integral width. Spark widens
    * int32/int64 join keys automatically, so no cast is needed. */
  private case object Integral extends Cls("integral (int/long/short)") {
    def ok(t: DataType): Boolean = t match {
      case _: IntegerType | _: LongType | _: ShortType => true; case _ => false
    }
  }
  /** Fractional measures: float/double/decimal. */
  private case object Fractional extends Cls("fractional (float/double/decimal)") {
    def ok(t: DataType): Boolean = t match {
      case _: DoubleType | _: FloatType | _: DecimalType => true; case _ => false
    }
  }
  private case object Str extends Cls("string") {
    def ok(t: DataType): Boolean = t.isInstanceOf[StringType]
  }
  /** Event-time instants. The generator has shipped three physical
    * encodings of `events.ts` (TESTDATA drift, round 9):
    *  - TIMESTAMP(NANOS): rejected by Spark's converter unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    [[graft.Session]]), under which it surfaces as nanos-since-epoch
    *    LongType → convert to TimestampType (micro precision,
    *    floor-truncated like DuckDB's TIMESTAMP_NS→TIMESTAMP read);
    *  - TIMESTAMP(MICROS, adjusted-to-UTC): TimestampType → pass;
    *  - TIMESTAMP(MICROS, no tz): TimestampNTZType → cast (session tz is
    *    pinned UTC, so wall-clock maps to the same instants). */
  private case object Stamp extends Cls(
      "timestamp (nanos-as-long / TimestampType / TimestampNTZType)") {
    def ok(t: DataType): Boolean = t match {
      case _: LongType | _: TimestampType | _: TimestampNTZType => true
      case _ => false
    }
    override def adapt(df: DataFrame, c: String, t: DataType): DataFrame = t match {
      case _: LongType => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case _: TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  }
  /** Day-granular dates (order/ship dates): the generator writes
    * TIMESTAMP(MILLIS); a future DATE or NTZ encoding reads the same to
    * the date-part consumers. NTZ normalizes to TimestampType so both
    * engines agree on the instant under the pinned UTC session. */
  private case object Day extends Cls("date (DateType/TimestampType/NTZ)") {
    def ok(t: DataType): Boolean = t match {
      case _: DateType | _: TimestampType | _: TimestampNTZType => true
      case _ => false
    }
    override def adapt(df: DataFrame, c: String, t: DataType): DataFrame = t match {
      case _: TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  }
  /** Embedding vectors: array of float, canonically FLOAT — graft_dot's
    * codegen reads packed floats, so a double-element drift casts down
    * (the synthetic embeddings are float32-valued either way). */
  private case object FloatVec extends Cls("array<float> (or array<double>)") {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(_: FloatType | _: DoubleType, _) => true; case _ => false
    }
    override def adapt(df: DataFrame, c: String, t: DataType): DataFrame = t match {
      case ArrayType(_: DoubleType, _) =>
        df.withColumn(c, col(c).cast(ArrayType(FloatType)))
      case _ => df
    }
  }

  /** Expected columns per table (name → acceptable type class). */
  private[graft] val contract: Map[String, Seq[(String, Cls)]] = Map(
    "region" -> Seq("r_regionkey" -> Integral, "r_name" -> Str),
    "nation" -> Seq("n_nationkey" -> Integral, "n_name" -> Str,
      "n_regionkey" -> Integral),
    "customer" -> Seq("c_custkey" -> Integral, "c_name" -> Str,
      "c_nationkey" -> Integral, "c_acctbal" -> Fractional,
      "c_mktsegment" -> Str),
    "supplier" -> Seq("s_suppkey" -> Integral, "s_name" -> Str,
      "s_nationkey" -> Integral, "s_acctbal" -> Fractional),
    "part" -> Seq("p_partkey" -> Integral, "p_name" -> Str,
      "p_brand" -> Str, "p_type" -> Str, "p_size" -> Integral,
      "p_retailprice" -> Fractional),
    "orders" -> Seq("o_orderkey" -> Integral, "o_custkey" -> Integral,
      "o_orderstatus" -> Str, "o_totalprice" -> Fractional,
      "o_orderdate" -> Day, "o_orderpriority" -> Str),
    "lineitem" -> Seq("l_orderkey" -> Integral, "l_partkey" -> Integral,
      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
      "l_quantity" -> Fractional, "l_extendedprice" -> Fractional,
      "l_discount" -> Fractional, "l_tax" -> Fractional,
      "l_returnflag" -> Str, "l_linestatus" -> Str, "l_shipdate" -> Day),
    "events" -> Seq("event_id" -> Integral, "ts" -> Stamp,
      "user_id" -> Integral, "event_type" -> Str, "value" -> Fractional,
      "props" -> Str),
    "documents" -> Seq("doc_id" -> Integral, "text" -> Str,
      "lang" -> Str, "source" -> Str, "n_chars" -> Integral),
    "embeddings" -> Seq("vec_id" -> Integral, "embedding" -> FloatVec,
      "label" -> Integral))

  /** Check `df` against `name`'s contract and normalize accepted drift.
    * Unknown table names (user-supplied frames routed through load)
    * pass through unchecked. */
  private[graft] def conform(df: DataFrame, name: String, path: String): DataFrame =
    contract.get(name).fold(df) { cols =>
      cols.foldLeft(df) { case (acc, (c, cls)) =>
        val field = acc.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"$path: column `$c` missing from $name " +
              s"(found: ${acc.schema.fieldNames.mkString(", ")}). The " +
              "generator's schema changed — extend Tables.contract if the " +
              "rename is intentional."))
        if (!cls.ok(field.dataType)) throw new IllegalArgumentException(
          s"$path: $name.`$c` surfaced as ${field.dataType}; " +
            s"the contract accepts ${cls.label}. The generator's physical " +
            "schema changed — extend Tables.contract for the new type.")
        cls.adapt(acc, c, field.dataType)
      }
    }

  /** Register just the named tables as temp views. Registration is
    * per-table so a schema break in one table can only fail queries that
    * actually read it — round 9 lost q14 (orders-only) to a broken
    * `events` because the old all-or-nothing registration loaded every
    * table eagerly. */
  def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Table names referenced by a SQL text, by word-boundary match against
    * the known catalog. Conservative on purpose: a table name appearing in
    * a comment or string literal registers one extra view (harmless),
    * whereas missing a real reference would fail analysis — so err toward
    * matching. Column names (`l_partkey`, `part_a`) don't false-positive:
    * `_` is a word character, so `\bpart\b` doesn't match inside them. */
  def referencedTables(sql: String): Seq[String] =
    names.filter(n => ("\\b" + n + "\\b").r.findFirstIn(sql).isDefined)

  /** Register only the tables a SQL text references, then it's safe to run
    * `spark.sql(sql)`: unrelated tables are never loaded. */
  def registerFor(spark: SparkSession, dir: String, sql: String): Unit =
    register(spark, dir, referencedTables(sql))
}
