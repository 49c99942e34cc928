package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Named-table loader over a scale-factor directory.
  *
  * Owns the one read-side quirk in the testdata: the physical type of
  * `events.ts` has CHANGED ACROSS DATA REGENERATIONS — parquet
  * `timestamp[ns]` (arrives as bigint nanos under
  * `spark.sql.legacy.parquet.nanosAsLong`) through round 9, parquet
  * `timestamp[us]` (arrives as TIMESTAMP_NTZ) since. [[events]]
  * dispatches on the loaded dtype so either vintage reads into the
  * same session-TZ TimestampType column, and [[assertSchema]] fails
  * LOUDLY (table.column, got-vs-supported) on any future drift —
  * a regeneration must cost one readable error, not N silent
  * query failures.
  *
  * At 100 TB these would be directory-partitioned datasets; the loader
  * is the single seam where partition filters / bucketing specs would
  * be injected, so query code never hardcodes paths.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** Memo of loaded (normalized, schema-checked) tables per
    * (session, dir, name, file-mtime). `spark.read.parquet` without a
    * user-supplied schema runs a 1-task footer-read JOB for schema
    * inference, so an un-memoized loader charges every query
    * CONSTRUCTION a scheduler roundtrip (157 queries × several
    * tables each, per Bench/Verify run) and makes plan-only
    * consumers (PlanSpec's zero-job construction pin) impossible.
    * DataFrames are immutable, so handing the same instance to every
    * caller is safe. The drift guard ([[assertSchema]]) runs on first
    * load per (session, file-vintage): the mtime in the key is a
    * cheap stat that invalidates the entry when the fixture is
    * REGENERATED mid-session (a recurring event in this repo), so a
    * schema-changing regeneration costs one readable error instead of
    * surviving as a stale memo until session restart.
    * Entries of stopped sessions (and superseded vintages of a
    * regenerated path) are dropped on the next call (the [[Cache]]
    * discipline; a WeakHashMap cannot work — the value references its
    * session key via `Dataset.sparkSession`).
    * Locking: the global monitor only guards map surgery; the build
    * itself (which runs the inference job) executes under the ENTRY's
    * own latch (`lazy val`), so concurrent first-loads of different
    * tables don't serialize on one global lock. */
  private final class Entry(build0: => DataFrame) {
    lazy val df: DataFrame = build0
  }
  private val memo = scala.collection.mutable.LinkedHashMap
    .empty[(SparkSession, String, String, Long), Entry]

  private def loaded(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val mtime = new java.io.File(path(dir, name)).lastModified()
    val entry = memo.synchronized {
      memo.filterInPlace { case ((sess, d, n, m), _) =>
        !sess.sparkContext.isStopped &&
          !(sess == s && d == dir && n == name && m != mtime)
      }
      memo.getOrElseUpdate((s, dir, name, mtime), new Entry(build))
    }
    entry.df
  }

  // --- schema drift detection -------------------------------------------
  // One predicate per column, deliberately GENEROUS where the engine
  // absorbs variance (any integral width; timestamp vs timestamp_ntz vs
  // bigint-nanos for ts) and strict where it doesn't (strings, floating
  // vs integral). The point is not to freeze the physical schema — it is
  // to catch the next `ts: timestamp[ns] -> timestamp[us]`-class change
  // at load time with a message naming the table, column, and types.
  private val integral: DataType => Boolean =
    t => t == IntegerType || t == LongType || t == ShortType
  private val floating: DataType => Boolean =
    t => t == DoubleType || t == FloatType
  private val str: DataType => Boolean = _ == StringType
  private val temporal: DataType => Boolean =
    t => t == TimestampType || t == TimestampNTZType || t == DateType
  // events.ts: the three vintages [[events]] can normalize. No DateType
  // — a date-typed ts would silently destroy sub-day semantics.
  private val temporalOrNanos: DataType => Boolean =
    t => t == TimestampType || t == TimestampNTZType || t == LongType
  private val floatVec: DataType => Boolean = {
    case ArrayType(FloatType | DoubleType, _) => true
    case _                                    => false
  }

  private def desc(p: DataType => Boolean): String = p match {
    case `integral`        => "{int, bigint}"
    case `floating`        => "{float, double}"
    case `str`             => "{string}"
    case `temporal`        => "{timestamp, timestamp_ntz, date}"
    case `temporalOrNanos` => "{timestamp, timestamp_ntz, bigint-nanos}"
    case `floatVec`        => "{array<float|double>}"
    case _                 => "?"
  }

  /** Required columns per table. Extra columns are allowed (additive
    * evolution is harmless); a missing column or unsupported type is
    * fatal at load. */
  private val expected: Map[String, Seq[(String, DataType => Boolean)]] = Map(
    "region" -> Seq("r_regionkey" -> integral, "r_name" -> str),
    "nation" -> Seq("n_nationkey" -> integral, "n_name" -> str,
      "n_regionkey" -> integral),
    "customer" -> Seq("c_custkey" -> integral, "c_name" -> str,
      "c_nationkey" -> integral, "c_acctbal" -> floating,
      "c_mktsegment" -> str),
    "supplier" -> Seq("s_suppkey" -> integral, "s_name" -> str,
      "s_nationkey" -> integral, "s_acctbal" -> floating),
    "part" -> Seq("p_partkey" -> integral, "p_name" -> str,
      "p_brand" -> str, "p_type" -> str, "p_size" -> integral,
      "p_retailprice" -> floating),
    "orders" -> Seq("o_orderkey" -> integral, "o_custkey" -> integral,
      "o_orderstatus" -> str, "o_totalprice" -> floating,
      "o_orderdate" -> temporal, "o_orderpriority" -> str),
    "lineitem" -> Seq("l_orderkey" -> integral, "l_partkey" -> integral,
      "l_suppkey" -> integral, "l_linenumber" -> integral,
      "l_quantity" -> floating, "l_extendedprice" -> floating,
      "l_discount" -> floating, "l_tax" -> floating,
      "l_returnflag" -> str, "l_linestatus" -> str,
      "l_shipdate" -> temporal),
    "events" -> Seq("event_id" -> integral, "ts" -> temporalOrNanos,
      "user_id" -> integral, "event_type" -> str, "value" -> floating,
      "props" -> str),
    "documents" -> Seq("doc_id" -> integral, "text" -> str,
      "lang" -> str, "source" -> str, "n_chars" -> integral),
    "embeddings" -> Seq("vec_id" -> integral, "embedding" -> floatVec,
      "label" -> integral))

  /** Fail loud on schema drift: every expected column must exist with
    * a supported type. Schema-only — no data is read. */
  private[graft] def assertSchema(name: String, schema: StructType): Unit =
    expected.get(name).foreach(_.foreach { case (col, ok) =>
      schema.fields.find(_.name == col) match {
        case None => throw new IllegalStateException(
          s"Tables.$name.$col: column missing from ${schema.fieldNames
            .mkString("[", ", ", "]")} — testdata format changed; " +
            "update graft.Tables")
        case Some(f) if !ok(f.dataType) => throw new IllegalStateException(
          s"Tables.$name.$col: got ${f.dataType.sql}, supported " +
            s"${desc(ok)} — testdata format changed; update graft.Tables")
        case _ => ()
      }
    })

  /** Load any named table, applying per-table normalization. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case other => loaded(spark, dir, other) {
        val df = spark.read.parquet(path(dir, other))
        assertSchema(other, df.schema)
        df
      }
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view so the whole catalog is
    * queryable with plain `spark.sql("SELECT … FROM lineitem")` — the
    * SQL face of the engine (same plans as the DataFrame face). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** LOUD SIDE-EFFECT, by design: reading ns-vintage `events` data
    * requires the session conf `spark.sql.legacy.parquet.nanosAsLong=
    * true` (Spark 4.x otherwise refuses a timestamp[ns] column), and
    * the conf must still be set when the LAZY plan is analyzed/executed
    * — a set-then-restore would race the deferred read. So this flips
    * the calling session's conf ONCE and leaves it on for the
    * session's lifetime. Harmless for µs-vintage data; kept as
    * protection in case ns-format data returns. Consequence for
    * callers: OTHER parquet sources with ns timestamps in the same
    * session also arrive as bigint nanos instead of erroring — every
    * loader in this engine (only this file) owns its own conversion,
    * so inside the engine the flag is invisible. Scope: per-session
    * runtime conf; other sessions are untouched. */
  def ensureNanosAsLong(spark: SparkSession): Unit = {
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(k).contains("true"))
      spark.conf.set(k, "true")
  }

  /** events with `ts` normalized by [[normalizeEvents]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    loaded(spark, dir, "events") {
      // Runtime-settable; must be on BEFORE the read in case the data is
      // the ns vintage (the read itself throws without it).
      ensureNanosAsLong(spark)
      normalizeEvents(spark.read.parquet(path(dir, "events")))
    }

  /** A raw events read, batch or streaming, checked against the
    * declared schema and with `ts` normalized to session-TZ
    * TimestampType, whatever vintage the parquet is:
    *  - bigint (ns-as-long vintage): integer-divide ns→µs (`ts div
    *    1000`, NOT double division which loses precision above 2^53 ns)
    *    — matches DuckDB's native ns→µs truncation exactly.
    *  - TIMESTAMP_NTZ (timestamp[us] vintage, current): cast to
    *    session-TZ timestamp. The engine forces UTC sessions
    *    (build.sbt, Verify, Bench), so the cast is value-preserving
    *    and output schemas stay identical across vintages.
    *  - TimestampType: already what we want. */
  private[graft] def normalizeEvents(raw: DataFrame): DataFrame = {
    assertSchema("events", raw.schema)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType => raw
      case other => throw new IllegalStateException( // unreachable past assertSchema
        s"Tables.events.ts: got ${other.sql}")
    }
  }
}
