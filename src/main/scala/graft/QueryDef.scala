package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared engine query: a Spark-first implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL used
  * by the driver's correctness gate. Column names/aliases MUST match between
  * the two sides (the comparator sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Shared helpers for deterministic, dialect-portable query results.
  *
  * Determinism rules (SURVEY.md section 2B): every query ends in a total
  * ORDER BY over a unique key; DOUBLE aggregates go through
  * DECIMAL(18,4) so float association order cannot flip a hash; ROUND(...,4)
  * then cast back to DOUBLE so both engines emit the identical value.
  */
object Q {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with a memoized schema. Without a schema,
    * each read runs a one-task schema-inference job (12-20 per pass over
    * the one-query-per-module panel; q03 alone ran 5). A memo entry is
    * keyed by everything that decides what inference returns: the qualified
    * path, each file's path, length and modification time, and the
    * session's values of [[InferenceConfs]]; so a table rewritten at the
    * same path, or read under other confs, is inferred again and never
    * served a stale schema. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark names the error
      case Some(key) => schemaMemo.read(spark, path, key)
    }

  /** Session confs that change the schema parquet inference yields. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private val schemaMemo = new SchemaMemo(256)

  private def schemaKey(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val key = new StringBuilder(fs.makeQualified(p).toString)
    // listStatus, not listFiles: a LocatedFileStatus reads the permission,
    // which the local filesystem loads by forking `ls`
    def leaves(d: Path): Iterator[FileStatus] =
      fs.listStatus(d).iterator.flatMap(f => if (f.isDirectory) leaves(f.getPath) else Iterator(f))
    leaves(p).foreach(f => key ++= s"|${f.getPath}:${f.getLen}:${f.getModificationTime}")
    InferenceConfs.foreach(c => key ++= s"|$c=${spark.conf.getOption(c).getOrElse("")}")
    Some(key.toString)
  }

  /** Test hook: whether the next [[readParquet]] of `path` reuses a
    * memoized schema. */
  private[graft] def schemaMemoized(spark: SparkSession, path: String): Boolean =
    schemaKey(spark, path).exists(schemaMemo.contains)

  /** Schema-adaptive events ingestion. The data generator has shipped
    * events.ts as parquet TIMESTAMP(NANOS) (one generation) and as
    * TIMESTAMP_MICROS/NTZ (the next); a reader hard-wired to either layout
    * breaks when the upstream writer changes, so branch on the dataType the
    * scan actually loads:
    *   - LongType  => the legacy nanosAsLong conf was in effect and the file
    *     is TIMESTAMP(NANOS); truncate ns -> micros exactly (integer `div`,
    *     not double division: ~1.7e18 ns overflows a double mantissa).
    *   - any timestamp type => already micro-precision; normalize to NTZ.
    * The legacy conf stays set so BOTH generations load (it is a no-op on a
    * micros column). The DuckDB oracle mirrors with CAST(ts AS TIMESTAMP).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case LongType =>
        // Sanity guard on the nanos assumption: a future generation
        // shipping plain UNANNOTATED INT64 micros would also load as
        // LongType here and be silently misread as nanos (1970-era
        // timestamps, a confusing oracle-hash failure far from the
        // cause). Nanos epochs of any plausible event time (2000..2100)
        // sit in [9.46e17, 4.11e18]; a value outside fails loudly AT THE
        // ROW with a named error. One long comparison per row inside
        // whole-stage codegen — no extra scan, no extra job.
        val lo = 946684800L * 1000000000L // 2000-01-01 as nanos
        val hi = 4102444800L * 1000000000L // 2100-01-01 as nanos
        when(col("ts").isNull || col("ts").between(lo, hi),
            expr("timestamp_micros(ts div 1000)"))
          .otherwise(raise_error(concat(
            lit("graft: events.ts loaded as INT64 but value "),
            col("ts").cast(StringType),
            lit(" is not a plausible nanosecond epoch — is the file " +
              "micros-as-long? (Q.events assumes INT64 ts = " +
              "TIMESTAMP(NANOS) under the nanosAsLong legacy conf)")))
            .cast(TimestampType))
          .cast(TimestampNTZType)
      case _ => col("ts").cast(TimestampNTZType)
    }
    raw.withColumn("ts", ts)
  }

  /** Oracle-side twin of [[events]]: a CTE body projecting the same columns. */
  val EVENTS_SQL: String =
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

  val dec18: Column => Column = c => c.cast(DecimalType(18, 4))
  val dec9: Column => Column = c => c.cast(DecimalType(9, 4))

  /** ROUND(x, 4) cast to DOUBLE — the canonical deterministic numeric output. */
  def r4(c: Column): Column = round(c, 4).cast(DoubleType)

  /** floor(x*10^4+0.5)/10^4 — knife-edge-proof scale-4 rounding (q54's
    * mechanism). ROUND(double, 4) can disagree across engines when the
    * value sits at a decimal halfway point: Spark rounds the SHORTEST
    * DECIMAL representation (BigDecimal.valueOf) half-up while DuckDB
    * rounds the true binary value, so 0.53175 (binary ...749999) goes to
    * .5318 in Spark and .5317 in DuckDB. This form is pure IEEE arithmetic
    * on identical doubles — bit-identical in both engines at every input.
    * Use it for any rounded DOUBLE DIVISION output (averages, rates);
    * r4 stays fine for decimal-typed inputs, where both engines round the
    * same exact value. */
  def f4(c: Column): Column =
    (floor(c * 10000 + lit(0.5)) / 10000.0).cast(DoubleType)

  /** Oracle twin of [[f4]]. */
  def F4(x: String): String =
    s"CAST(FLOOR(($x) * 10000 + 0.5) / 10000.0 AS DOUBLE)"

  /** SUM over DECIMAL(18,4) (exact), rounded, as DOUBLE. */
  def sum4(c: Column): Column = r4(sum(dec18(c)))

  /** AVG as exact decimal SUM cast to double, IEEE-divided by count, rounded.
    * Identical bit pattern in both engines (decimal sum is exact; the double
    * division and final round operate on identical inputs).
    */
  def avg4(c: Column): Column = r4(sum(dec18(c)).cast(DoubleType) / count(c))

  /** Oracle twins of the helpers above. */
  def SUM4(x: String): String =
    s"CAST(ROUND(SUM(CAST($x AS DECIMAL(18,4))), 4) AS DOUBLE)"
  def AVG4(x: String): String =
    s"CAST(ROUND(CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE) / COUNT($x), 4) AS DOUBLE)"

  /** l_extendedprice * (1 - l_discount) as an exact DECIMAL(18,4), identical
    * in both engines: cast operands to bounded decimals (product precision
    * stays under 38 in both type systems), round half-up at scale 4.
    */
  def discPrice: Column =
    round(dec18(col("l_extendedprice")) * (lit(1) - dec9(col("l_discount"))), 4)
      .cast(DecimalType(18, 4))
  val DISC_PRICE_SQL: String =
    "CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(9,4))), 4) AS DECIMAL(18,4))"

  def tsn(iso: String): Column = lit(iso).cast(TimestampNTZType)
}
