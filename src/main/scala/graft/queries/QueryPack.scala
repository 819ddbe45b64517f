package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: Spark implementation + (optionally) the
  * equivalent ANSI SQL for the DuckDB oracle. Column names and types must
  * match between the two (driver sorts columns by name and hashes values).
  */
final case class QDef(
    name: String,
    impl: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryPack {
  def defs: Seq[QDef]

  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.impl).toMap
  final def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}

/** Shared helpers keeping Spark and DuckDB arithmetically identical. */
object Q {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.DecimalType

  /** Monetary/2-dp doubles get cast to DECIMAL(18,2) before aggregation:
    * decimal sums are exact and order-independent, so parallel Spark
    * aggregation hash-matches single-threaded DuckDB. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Final OUTPUT form of an exact decimal aggregate: cast to DOUBLE.
    * Both engines convert the identical exact decimal with a correctly-
    * rounded cast → bit-identical doubles. DECIMAL output columns are
    * avoided entirely: the driver's canonicalization of parquet decimals
    * vs oracle decimals diverges (r02: every decimal-output query hash-
    * mismatched; every double/int/string output matched). */
  def dec38(c: Column): Column = c.cast("double")
  val decSql = "DECIMAL(18,2)"
  val dec38Sql = "DOUBLE"

  /** events.ts is nanos-since-epoch BIGINT in Spark (see GraftSession);
    * `ts DIV 1000000` equals DuckDB `epoch_ms(ts)` exactly. */
  val tsMs = "ts DIV 1000000"
  /** Nanos value of a UTC timestamp literal 'yyyy-MM-dd HH:mm:ss'. */
  def nanosOf(isoUtc: String): Long =
    java.time.LocalDateTime.parse(isoUtc.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
  def millisOf(isoUtc: String): Long = nanosOf(isoUtc) / 1000000L

  /** A nullable BIGINT cell of a collected census row: `Row.getLong`
    * throws on NULL, so driver finishes decode attribute-derived cells
    * through this. */
  def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))
  /** The oracle's NULL order for driver-side sorts: DuckDB puts NULLs
    * last for ASC and DESC alike (pass `ord.reverse` for DESC). */
  def nullsLast[T](ord: Ordering[T]): Ordering[Option[T]] =
    new Ordering[Option[T]] {
      def compare(a: Option[T], b: Option[T]): Int = (a, b) match {
        case (Some(x), Some(y)) => ord.compare(x, y)
        case (None, None) => 0
        case (None, _) => 1
        case (_, None) => -1
      }
    }
}
