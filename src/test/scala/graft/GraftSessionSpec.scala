package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener

class GraftSessionSpec extends SparkSpec {

  test("session carries the scale-oriented defaults the engine relies on") {
    val c = spark.conf
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.parquet.filterPushdown") == "true")
    assert(c.get("spark.sql.autoBroadcastJoinThreshold").toLong > 0)
    assert(c.get("spark.sql.codegen.cache.maxEntries") == GraftSession.codegenCacheEntries.toString)
  }

  test("graft extensions are registered (native SQL functions resolve)") {
    val r = spark.sql("SELECT graft_haversine(0D, 0D, 0D, 0D)").collect()
    assert(r.head.getDouble(0) == 0.0)
  }

  // The analyst benchmark's fixed sample (perfbench/analyst_pool.json).
  private val analystSample = Seq("q292_theil_u", "q78_cdc_apply", "q502_rolling_origin_cv",
    "q492_keyset_pagination", "q455_watermark_drops", "q364_full_outer_reconcile")

  test("a repeated round of the analyst queries compiles no generated class") {
    assert(SQLConf.get.codegenCacheMaxEntries == GraftSession.codegenCacheEntries)
    // AQE numbers query and codegen stages in the order they become
    // ready, so two stages ready at once can swap numbers between runs
    // (q502's two broadcasts do), and the renumbered plan is new code.
    // So the check is per plan: a run whose executed plans (ids aside)
    // repeat a first-round run of its query compiles nothing.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString.replaceAll("#\\d+|plan_id=\\d+", ""))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def round(): Seq[(String, String, Long)] = (analystSample ++ analystSample.reverse).map { q =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      ListenerBusDrain(spark.sparkContext)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val plan = Iterator.continually(plans.poll()).takeWhile(_ != null).mkString("\n")
      (q, plan, compiled)
    }
    spark.listenerManager.register(listener)
    val (first, second) = try (round(), round())
      finally spark.listenerManager.unregister(listener)
    val seen = first.map(r => (r._1, r._2)).toSet
    val repeated = second.filter(r => seen((r._1, r._2)))
    info(s"compiled ${first.map(_._3).sum} classes, then ${second.map(_._3).sum}; " +
      s"renumbered: ${second.diff(repeated).map(_._1).mkString(", ")}")
    assert(repeated.size >= second.size / 2)
    val again = repeated.filter(_._3 > 0).map(r => r._1 -> r._3)
    assert(again.isEmpty, s"runs that compiled again: $again")
  }
}
