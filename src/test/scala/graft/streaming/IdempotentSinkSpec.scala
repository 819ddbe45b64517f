package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class IdempotentSinkSpec extends SparkSpec {

  test("writeBatch is idempotent per batchId; readers see only committed batches") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("idempotent-sink").toString

    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // first delivery writes
    assert(IdempotentSink.writeBatch(root)(b0, 0L))
    // replay of the same batch (restart-after-crash path) is a no-op
    assert(!IdempotentSink.writeBatch(root)(b0, 0L))
    assert(IdempotentSink.writeBatch(root)(Seq((3L, "c")).toDF("id", "v"), 1L))

    // a torn write: data dir exists but no commit marker → invisible
    Seq((99L, "torn")).toDF("id", "v").write.parquet(s"$root/batch=7")

    assert(IdempotentSink.committedBatches(spark, root) == Seq(0L, 1L))
    val rows = IdempotentSink.readCommitted(spark, root)
      .as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("readCommitted starts no Spark job once the sink's schema is known") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("idempotent-schema").toString
    IdempotentSink.writeBatch(root)(Seq((1L, "a")).toDF("id", "v"), 0L)
    assert(IdempotentSink.readCommitted(spark, root).columns.toSeq == Seq("id", "v"))
    IdempotentSink.writeBatch(root)(Seq((2L, "b")).toDF("id", "v"), 1L)
    assert(jobsStarted(IdempotentSink.readCommitted(spark, root)) == 0)
    assert(IdempotentSink.readCommitted(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("foreachBatch + IdempotentSink survives a stream restart without duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("idempotent-stream").toString
    val ckpt = Files.createTempDirectory("idempotent-ckpt").toString

    val input = MemoryStream[(Long, Double)]
    def start() = input.toDF().toDF("id", "value")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        IdempotentSink.writeBatch(root)(df, id); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()

    input.addData((1L, 1.0), (2L, 2.0))
    val q1 = start(); q1.awaitTermination(); q1.stop()
    // restart from the same checkpoint: the engine may replay the last
    // batch into foreachBatch; the sink must not duplicate it
    input.addData((3L, 3.0))
    val q2 = start(); q2.awaitTermination(); q2.stop()

    val out = IdempotentSink.readCommitted(spark, root)
      .as[(Long, Double)].collect().sorted.toSeq
    assert(out == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }
}
