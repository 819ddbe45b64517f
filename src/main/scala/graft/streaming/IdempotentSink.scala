package graft.streaming

import graft.Tables
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Exactly-once parquet sink for `foreachBatch` (SURVEY.md §2G).
  *
  * Structured Streaming's `foreachBatch` gives at-least-once delivery:
  * after a failure the same (batchId, data) pair is replayed. Exactly-once
  * output therefore needs an idempotent writer — this one follows the
  * standard transactional-directory protocol the built-in file sink uses
  * (reference analog: the scraper's response-persistence path must survive
  * Celery task retries without duplicating rows — `AirBnBResponse`
  * inserts, /root/reference/src/ubdc_airbnb/ubdc_airbnb/models.py:349):
  *
  *  1. a batch writes to `<root>/batch=<id>/` (overwrite — a torn previous
  *     attempt is clobbered, never appended to);
  *  2. a commit marker `<root>/_commits/<id>` is created AFTER the write
  *     completes (rename-free: marker creation is the atomic commit point
  *     on HDFS/object stores with atomic create);
  *  3. a replayed batchId finds the marker and returns without writing;
  *  4. readers take only committed batch dirs (`committedBatches`).
  *
  * The whole protocol is driver-side filesystem metadata — executors
  * stream data exactly as a plain parquet write; no extra shuffle.
  */
object IdempotentSink {

  private def fs(df: DataFrame): FileSystem =
    FileSystem.get(df.sparkSession.sessionState.newHadoopConf())

  private def markerPath(root: String, batchId: Long) =
    new Path(s"$root/_commits/$batchId")

  /** The foreachBatch body: `stream.writeStream.foreachBatch(
    * IdempotentSink.writeBatch(root) _)`. Returns true when this call
    * performed the write, false when the batch was already committed
    * (replay after restart).
    *
    * Replay path subtlety: a replayed batch must still be EVALUATED even
    * though its output is skipped. When the upstream pipeline is stateful
    * (stream-stream join, aggregation), every micro-batch run is expected
    * to commit its state stores; skipping evaluation leaves 0 of N commits
    * and Spark kills the query with STATE_STORE_COMMIT_VALIDATION_FAILED —
    * i.e. the restart would wedge permanently in exactly the torn window
    * (marker created, checkpoint offset not yet committed) this protocol
    * exists to survive. So the already-committed path drains the batch
    * (foreachPartition no-op — full state-store work, no sink bytes) and
    * only skips the write itself. */
  def writeBatch(root: String)(batch: DataFrame, batchId: Long): Boolean = {
    val hfs = fs(batch)
    val marker = markerPath(root, batchId)
    if (hfs.exists(marker)) {
      // Drain without writing: state stores upstream of the sink commit
      // exactly as on the first attempt, output stays single-copy. The
      // iterator must be EXHAUSTED — stateful operators commit their
      // stores on iterator completion, not task start.
      batch.queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) it.next()
      }
      return false
    }
    batch.write.mode("overwrite").parquet(s"$root/batch=$batchId")
    val out = hfs.create(marker, true)
    try out.write(s"$batchId\n".getBytes(StandardCharsets.UTF_8)) finally out.close()
    true
  }

  /** Batch ids with a commit marker — the only directories a reader may
    * trust (an uncommitted dir is a torn write from a crashed attempt). */
  def committedBatches(spark: org.apache.spark.sql.SparkSession, root: String): Seq[Long] = {
    val hfs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dir = new Path(s"$root/_commits")
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq.map(_.getPath.getName.toLong).sorted
  }

  /** Read the committed prefix of the sink as one DataFrame. The schema
    * is the first committed batch's, the file Spark would infer it from:
    * a committed batch never changes, so `Tables.schemaOf` infers it once
    * per session instead of one footer job per read. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val ids = committedBatches(spark, root)
    require(ids.nonEmpty, s"no committed batches under $root")
    val dirs = ids.map(id => s"$root/batch=$id")
    spark.read.schema(Tables.schemaOf(spark, dirs.head)).parquet(dirs: _*)
  }
}
