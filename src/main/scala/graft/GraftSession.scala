package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults used across graft.
  *
  * Local testing runs `local[N]`, but every knob here is chosen for the
  * 1000-executor / 100 TB deployment described in SURVEY.md §5:
  *  - AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  *    partition counts when data volume moves 100×.
  *  - Partial aggregation, broadcast thresholds and parquet pushdown are
  *    Spark defaults we *rely* on; tests assert they stay on.
  *  - Code-generation cache: Spark keeps the classes it generates in one
  *    JVM-wide LRU cache of 100 entries by default, fewer than a repeated
  *    cycle of analyst queries needs; see `codegenCacheEntries`. (Parquet
  *    schemas are cached by `Tables`.)
  */
object GraftSession {
  /** Entries of Spark's code-generation cache. Measured (4 cores, sf0.1):
    * a round of the six analyst benchmark queries compiles 136-140
    * distinct classes, so at 100 entries every repeated round compiled
    * 87-95 of them again and ran them interpreted; at 150-1,000 a
    * repeated round compiled 0 (now and then 4, from a changed plan), and
    * the warm round went from 5.5 s to 3.9 s. 500 leaves room for a
    * cycle three times the sample. An entry holds the generated source
    * text and its loaded class: after an analyst round heap (170 MB) and
    * metaspace (170 MB) in use were the same at 100 and 500 entries;
    * after a 150-query sweep (2,200-3,100 compiles) heap was 215-218 MB
    * at 100 entries and 242-316 MB at 300-1,000, metaspace 204-209 MB at
    * every size. */
  val codegenCacheEntries = 500

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's coalescing floor (default 1m) decides parallelism by BYTES
      // only, so a CPU-dense stage over a small shuffle (basket/census
      // enumeration, per-group array lambdas, decimal aggregation) gets
      // squeezed onto 2-5 cores while the other 27+ idle — measured r12
      // on q400/q463: 2.4 CPU-seconds packed into 2 tasks = 1.6 s of
      // wall. 64k keeps such stages wide; it is scale-NEUTRAL because it
      // only changes stages whose post-shuffle bytes are already tiny
      // (large stages still coalesce toward the advisory size), and it
      // stays env-overridable for deployments that prefer the default.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark cannot represent;
      // read it as a nanos-since-epoch BIGINT (exact) and convert with
      // integer arithmetic (`ts DIV 1000000` == DuckDB `epoch_ms(ts)`).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Static: read once per JVM, when the first session creates
      // Spark's code generator, so the first session's value holds.
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
