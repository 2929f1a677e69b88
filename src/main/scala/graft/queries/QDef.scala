package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One driver-verifiable query: a Spark implementation plus (when
  * SQL-expressible) the equivalent ANSI SQL the driver runs in DuckDB
  * over the same parquet tables. Column names/types and row order must
  * match between the two (the driver hash-compares values after sorting
  * columns by name), so every query here ends in a total ORDER BY and
  * aliases every computed column identically on both sides.
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QDef {
  /** Timestamp-bearing columns per table, with the resolved Spark type
    * every downstream query (and every green oracle hash) expects.
    * events.ts flows as the session TimestampType (the shape the
    * original nanos loader produced); the TPC-H date columns flow as
    * TIMESTAMP_NTZ (what today's timestamp[us] files resolve to).
    */
  private val TsCols: Map[String, Seq[(String, String)]] = Map(
    "events" -> Seq("ts" -> "timestamp"),
    "orders" -> Seq("o_orderdate" -> "timestamp_ntz"),
    "lineitem" -> Seq("l_shipdate" -> "timestamp_ntz"))

  /** Read one of the driver-generated tables (TESTDATA.md). The
    * timestamp columns' parquet physical encoding has varied across
    * testdata generations — TIMESTAMP(NANOS) (which Spark can only read
    * as a raw long under the legacy flag) and plain timestamp[us]
    * (which resolves as TIMESTAMP_NTZ) have both been observed on
    * events.ts, and the round-8 loader's hard-wired nanos assumption
    * broke 53 queries when the encoding flipped. So every
    * timestamp-bearing table adapts to the RESOLVED type and normalizes
    * to the per-column target in [[TsCols]]:
    *   - LongType (legacy nanos): floor-divide to micros — DuckDB's
    *     `CAST(.. AS TIMESTAMP)` truncates identically — then cast to
    *     the target type.
    *   - any timestamp type: cast to the target (identity on the stored
    *     micros under the UTC session timezone every entry point sets;
    *     a no-op cast when the resolved type already matches).
    * The nanosAsLong flag is harmless for non-nanos files (it only
    * changes how TIMESTAMP(NANOS) columns resolve), so it is set
    * unconditionally before the read rather than probing the footer.
    * Columns absent from the file (a fixture or future schema change)
    * are skipped. EventsLoaderSpec pins all eras on golden fixtures.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val tsCols = TsCols.getOrElse(name, Nil)
    if (tsCols.isEmpty) spark.read.parquet(s"$dir/$name.parquet")
    else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      tsCols.foldLeft(raw) { case (df, (c, target)) =>
        if (!df.schema.fieldNames.contains(c)) df
        else df.schema(c).dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn(c, timestamp_micros(expr(s"$c div 1000")).cast(target))
          case dt if dt.typeName == target => df
          case _ => df.withColumn(c, col(c).cast(target))
        }
      }
    }
  }

  /** Exact-decimal view of a 2-decimal money/measure double. Summing
    * doubles is order-dependent and would break DuckDB hash-parity at
    * shuffle scale; summing DECIMAL(18,2) is exact in both engines.
    * Cast the final aggregate back to double on both sides.
    */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Engine-exact decimal rounding of an FP-computed double:
    * floor(x*10^d + 0.5)/10^d is pure IEEE arithmetic, so both engines
    * round the identical binary double identically. Spark's round()
    * (BigDecimal HALF_UP on the shortest decimal representation) and
    * DuckDB's round() (binary-value rounding) disagree on doubles one
    * ulp below a half boundary — observed on a real quality score of
    * 0.53374999…: Spark said 0.5338, DuckDB 0.5337. Use for any rounded
    * value DERIVED FROM FP MATH on both sides; inputs must be non-NaN
    * and |x| < 2^53/10^d. (Halves of negative inputs round toward +inf,
    * not away from zero — consistently in both engines.)
    */
  def rx(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits.toDouble)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** DuckDB spelling of [[rx]]. */
  def rxSql(e: String, digits: Int): String =
    s"floor(($e) * 1e$digits + 0.5) / 1e$digits"

  /** Scratch space for queries that must materialize an intermediate
    * (JSON round-trips, partitioned sinks, streaming checkpoints).
    * Kept under [[graft.SparkConfs.targetDir]].
    */
  def scratch(sub: String): String = {
    val p = s"${graft.SparkConfs.targetDir}/scratch/$sub"
    new java.io.File(p).getParentFile.mkdirs()
    p
  }
}
