package graft.sed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Mirrors the role of sed's generic loader
  * (reference: src/sed/loader/generic/loader.py:23 `GenericLoader.read_dataframe`),
  * which reads a folder of parquet/csv/json files into one dataframe. Spark's
  * multi-file parquet reader already provides the distributed, column-pruned,
  * predicate-pushdown scan, so the "loader" is just a thin naming contract.
  *
  * Two hard-won behaviors live here (round 9):
  *
  *  1. '''Schema-drift guard.''' The driver regenerates the testdata
  *     between rounds, and a silent physical-type change (round 8:
  *     `events.ts` flipped from int64 TIMESTAMP(NANOS) to plain
  *     `timestamp[us]`) used to surface as six scattered
  *     `DATATYPE_MISMATCH` analysis exceptions deep inside unrelated
  *     plans. Every accessor now checks the column contract at load and
  *     fails with ONE named, actionable [[SchemaDriftException]].
  *
  *  2. '''Time normalization.''' `events.ts` is exposed to ALL downstream
  *     code as `ts_us`: int64 microseconds since the epoch, UTC —
  *     whatever physical type the generator chose. Both representations
  *     the generator has used map onto it losslessly at µs precision
  *     (DuckDB's timestamp functions carry µs, so this is also the
  *     common grid the oracle computes on via `epoch_us(ts)`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A driver-regenerated table no longer matches the column contract the
    * queries compile against. Message names table.column, the found type,
    * and what is accepted — the ONE error every entry fails with, instead
    * of N scattered analysis exceptions. */
  final class SchemaDriftException(msg: String) extends RuntimeException(msg)

  // ---- column contract ---------------------------------------------------
  // kind = a named predicate over the physical Spark type. EXTRA columns
  // are allowed (the generator may widen a table); missing columns or
  // unacceptable types are drift.
  private final case class Kind(name: String)(val ok: DataType => Boolean)
  private val I = Kind("integral") {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  }
  private val D = Kind("double") {
    case FloatType | DoubleType => true; case _ => false
  }
  private val S = Kind("string") { case StringType => true; case _ => false }
  /** The event-time column: int64 (nanoseconds, the legacy nanosAsLong
    * read of TIMESTAMP(NANOS)) or a real timestamp type — both normalize
    * to `ts_us` below. */
  private val T = Kind("time (int64-ns or timestamp)") {
    case LongType | TimestampType | TimestampNTZType => true; case _ => false
  }
  /** Date-like: the TPC-H date columns have been generated as timestamps. */
  private val Dt = Kind("date/timestamp") {
    case DateType | TimestampType | TimestampNTZType => true; case _ => false
  }
  private val VF = Kind("array<float>") {
    case ArrayType(FloatType | DoubleType, _) => true; case _ => false
  }

  private val contract: Map[String, Seq[(String, Kind)]] = Map(
    "region" -> Seq("r_regionkey" -> I, "r_name" -> S),
    "nation" -> Seq("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
    "customer" -> Seq("c_custkey" -> I, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S),
    "supplier" -> Seq("s_suppkey" -> I, "s_name" -> S, "s_nationkey" -> I,
      "s_acctbal" -> D),
    "part" -> Seq("p_partkey" -> I, "p_name" -> S, "p_brand" -> S,
      "p_type" -> S, "p_size" -> I, "p_retailprice" -> D),
    "orders" -> Seq("o_orderkey" -> I, "o_custkey" -> I, "o_orderstatus" -> S,
      "o_totalprice" -> D, "o_orderdate" -> Dt, "o_orderpriority" -> S),
    "lineitem" -> Seq("l_orderkey" -> I, "l_partkey" -> I, "l_suppkey" -> I,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
      "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S,
      "l_linestatus" -> S, "l_shipdate" -> Dt),
    "events" -> Seq("event_id" -> I, "ts" -> T, "user_id" -> I,
      "event_type" -> S, "value" -> D, "props" -> S),
    "documents" -> Seq("doc_id" -> I, "text" -> S, "lang" -> S,
      "source" -> S, "n_chars" -> I),
    "embeddings" -> Seq("vec_id" -> I, "embedding" -> VF, "label" -> I))

  /** Assert `df` satisfies `name`'s column contract; returns `df`.
    * All violations are reported in one exception. */
  def checked(name: String, df: DataFrame): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = contract.getOrElse(name, Seq.empty).flatMap { case (c, kind) =>
      types.get(c) match {
        case None => Some(s"$name.$c: column missing (expected ${kind.name})")
        case Some(dt) if !kind.ok(dt) =>
          Some(s"$name.$c: found ${dt.simpleString}, expected ${kind.name}")
        case _ => None
      }
    }
    if (bad.nonEmpty) throw new SchemaDriftException(
      s"testdata schema drift in table '$name' — regenerate-proof the " +
        s"queries via graft.sed.Tables before touching call sites:\n  " +
        bad.mkString("\n  "))
    df
  }

  /** `dir/name.parquet`, schema from one footer read (no Spark job —
    * [[graft.io.SedReader.parquet]]), checked against the contract. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    checked(name, graft.io.SedReader.parquet(spark, s"$dir/$name.parquet"))

  /** Normalize an event-time column to int64 microseconds since the epoch
    * (UTC), emitted as `as` (default `ts_us`), dropping the original.
    * Handles every physical type the generator has produced:
    *   - int64 → interpreted as NANOSECONDS (the nanosAsLong legacy read
    *     of parquet TIMESTAMP(NANOS)), floor-divided to µs;
    *   - timestamp / timestamp_ntz → `unix_micros` under UTC (the NTZ→TZ
    *     cast interprets the wall clock in the session zone, which this
    *     method pins to UTC — equal to DuckDB's `epoch_us(ts)` on the
    *     same file).
    */
  def normalizeEventTime(df: DataFrame, tsCol: String = "ts",
                         as: String = "ts_us"): DataFrame = {
    // the NTZ→TZ cast below reads the session zone at EXECUTION time;
    // pin it here so correctness can't depend on who built the session
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    val us: Column = df.schema(tsCol).dataType match {
      case LongType => expr(s"$tsCol div 1000")
      case TimestampType | TimestampNTZType =>
        unix_micros(col(tsCol).cast(TimestampType))
      case other => throw new SchemaDriftException(
        s"events.$tsCol: found ${other.simpleString}, expected int64-ns or timestamp")
    }
    df.withColumn(as, us).drop(tsCol)
  }

  /** The events table with the time contract applied: column `ts_us`
    * (int64 µs, UTC) replaces the generator-typed `ts`. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTime(load(spark, dir, "events"))

  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
}
