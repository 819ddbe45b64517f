package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Reader for the driver-generated parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads become partitioned-table scans; all graft
  * operators take DataFrames so the physical layout (partitionBy /
  * bucketing, see sources/Io.scala) is orthogonal to query logic.
  *
  * Schema cache: `spark.read.parquet` infers the schema by running a
  * Spark job that reads a footer, and registry queries call `t` once per
  * table they read, so a warm analyst query spent 7 of its 9 build jobs
  * (about 60 ms of 0.15 s) inferring schemas it had already seen.
  * `parquet` infers each path's schema once per session and reads with
  * it; the key holds the path's length and modification time, so a
  * rewritten file is inferred again.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** `spark.read.parquet(path)` with the schema from `schemaOf`. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  private type Key = (String, Long, Long)
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, StructType]]()

  /** The schema Spark infers for the parquet file or directory at `path`,
    * inferred once per session and (path, length, modification time). A
    * directory's own status changes when files are added, removed or
    * renamed in it, as every Spark write does. A missing path fails with
    * Spark's own error. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = try fs.getFileStatus(p) catch { case _: FileNotFoundException => null }
    if (st == null) spark.read.parquet(path).schema
    else {
      val session = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[Key, StructType]()))
      session.computeIfAbsent((st.getPath.toString, st.getLen, st.getModificationTime),
        _ => spark.read.parquet(path).schema)
    }
  }

  /** Canonical `events.ts` representation: nanos-since-epoch BIGINT.
    *
    * The generator has shipped the column both as parquet TIMESTAMP(NANOS)
    * (which `spark.sql.legacy.parquet.nanosAsLong` surfaces as BIGINT
    * directly) and as TIMESTAMP(MICROS) (which Spark reads as
    * TIMESTAMP_NTZ). Normalize to the BIGINT-nanos contract every query
    * relies on (`ts DIV 1000000` == DuckDB `epoch_ms(ts)`). The conversion
    * is exact integer arithmetic (session TZ is UTC) and stays inside
    * whole-stage codegen, so the scan plan is unchanged.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == LongType) df
    else df.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
}
