package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.LongType

/** `Tables` infers each parquet path's schema once per session. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("a second Tables.t of the same table starts no Spark job") {
    Tables.t(spark, sfDir, "events")
    assert(jobsStarted(Tables.t(spark, sfDir, "events")) == 0)
    assert(Tables.t(spark, sfDir, "events").schema("ts").dataType == LongType)
    assert(Tables.t(spark, sfDir, "orders").count() ==
      spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("a parquet file rewritten at the same path comes back with its new schema") {
    val tmp = Files.createTempDirectory("graft-tables")
    val file = tmp.resolve("t.parquet")
    def put(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(tmp.resolve(name).toString)
      val part = Files.list(tmp.resolve(name)).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, file, StandardCopyOption.REPLACE_EXISTING)
    }
    put(Seq((1L, "a")).toDF("id", "v"), "first")
    assert(Tables.parquet(spark, file.toString).columns.toSeq == Seq("id", "v"))
    put(Seq((2.5, 7, "b")).toDF("w", "n", "v"), "second")
    val again = Tables.parquet(spark, file.toString)
    assert(again.columns.toSeq == Seq("w", "n", "v"))
    assert(again.as[(Double, Int, String)].collect().toSeq == Seq((2.5, 7, "b")))

    // a directory Spark overwrites is inferred again too
    val dir = tmp.resolve("dir").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("id", "v"))
    Seq(3.5).toDF("x").write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).as[Double].collect().toSeq == Seq(3.5))
  }

  test("a missing table fails with Spark's own error") {
    val e = intercept[AnalysisException](Tables.t(spark, sfDir, "no_such_table"))
    assert(e.getCondition == "PATH_NOT_FOUND")
    assert(!Files.exists(Paths.get(s"$sfDir/no_such_table.parquet")))
  }
}
