package graftbench

import scala.collection.mutable
import graft.{GraftSession, SparkEntry}

/** One benchmark run in a fresh JVM: set-up, `--warmup` untimed rounds
  * of the workload's operations (the first of them keeps its outputs for
  * the checks), then `--rounds` timed rounds. A timed round after the
  * first starts only while less than `--deadline-s` seconds have passed
  * since the JVM started, so a run on a slow host stays bounded. Writes
  * the run record (timings, per-operation outputs for the checks, oracle
  * programs and, with `--trace 1`, layer counters) as JSON to
  * `<out>/run.json`. `perfbench/run.py` starts it and does the checks.
  *
  * `--workload sweep` runs only the check round, over every registry
  * query; perfbench/make_pool.py builds the analyst pool from it.
  *
  * Usage: Main --workload analyst|curate|harvest|sweep --warmup W
  *   --rounds R --deadline-s D --trace 0|1 --data DIR --out DIR
  *   [--queries q1,q2,...] [--now-ms MS]
  */
object Main {
  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(argv: Array[String]): Unit = {
    val mainUs = nowUs()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val warmupRounds = args("warmup").toInt
    val rounds = args("rounds").toInt
    val deadlineS = args("deadline-s").toDouble
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = args.getOrElse("trace", "0") == "1"
    val dataDir = args("data")
    val out = args("out")

    val t0 = System.nanoTime()
    val spark = GraftSession.get("graft-perfbench")
    Seq("org.apache.spark.sql.execution.window", "org.apache.spark.sql.Column")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val cores = spark.sparkContext.defaultParallelism

    val w: Workload = workload match {
      case "analyst" => new Analyst(spark, dataDir, out, args("queries").split(",").toIndexedSeq)
      case "sweep"   => new Analyst(spark, dataDir, out, SparkEntry.queries.keys.toIndexedSeq.sorted)
      case "curate"  => new Curate(spark, out)
      case "harvest" => new Harvest(spark, dataDir, out, args("now-ms").toLong)
      case other     => sys.error(s"unknown workload $other")
    }

    val t1 = System.nanoTime()
    w.register()
    val tablesS = (System.nanoTime() - t1) / 1e9

    def runOp(op: String, check: Boolean, roundIx: Int): mutable.LinkedHashMap[String, Any] = {
      val spans = new Spans(tracer)
      val before = tracer.map(_.snap())
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val rec = mutable.LinkedHashMap[String, Any]("op" -> op, "round" -> roundIx,
        "items" -> w.items(op), "check" -> check)
      try rec ++= w.run(op, check, spans)
      catch {
        case e: Throwable =>
          rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      }
      rec("t_s") = (System.nanoTime() - s0) / 1e9
      val endMs = System.currentTimeMillis()
      rec ++= spans.fields
      tracer.foreach { t =>
        rec("layers") = (t.snap() - before.get).toMap + ("idle_ms" -> t.idleMs(startMs, endMs))
      }
      spark.catalog.clearCache()
      rec
    }

    val t2 = System.nanoTime()
    val warm = w.checkRound.map(op => runOp(op, check = true, -warmupRounds)) ++
      (1 until warmupRounds).flatMap(i => w.round.map(op => runOp(op, check = false, i - warmupRounds)))
    System.gc()
    val warmupS = (System.nanoTime() - t2) / 1e9

    val firstOpUs = nowUs()
    val w0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    var r = 0
    while (r < rounds && (r == 0 || System.currentTimeMillis() - jvmStartMs < deadlineS * 1000)) {
      w.round.foreach(op => ops += runOp(op, check = false, r))
      r += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val fin = w.finish()

    val oracle = workload match {
      case "analyst" | "sweep" =>
        w.checkRound.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      case "curate"  => Map("steps" -> OracleSql.curate().map { case (n, s) => Seq(n, s) })
      case _         => Map("steps" -> OracleSql.harvestLeaves().map { case (n, s) => Seq(n, s) })
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "trace" -> trace,
      "jvm_start_ms" -> jvmStartMs,
      "main_us" -> mainUs, "first_op_us" -> firstOpUs,
      "session_start_s" -> sessionS, "tables_s" -> tablesS, "warmup_s" -> warmupS,
      "window_s" -> windowS, "rounds" -> r, "finish" -> fin,
      "warmup" -> warm, "ops" -> ops, "oracle" -> oracle)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/run.json"),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
