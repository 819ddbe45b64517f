package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.{Pipeline, SparkEntry, Tables}
import graft.geo.SyntheticGeo
import graft.operators.HarvestCycle
import graft.sources.Io
import graft.streaming.IdempotentSink
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Times the calls into one layer inside an operation. In the traced run
  * it also counts the Spark jobs each call started. */
final class Spans(tracer: Option[Tracer]) {
  val fields = mutable.LinkedHashMap.empty[String, Any]

  def apply[T](name: String)(body: => T): T = {
    val j0 = tracer.map(_.snap().jobs)
    val t0 = System.nanoTime()
    val out = body
    fields(s"${name}_s") = (System.nanoTime() - t0) / 1e9
    tracer.foreach(t => fields(s"${name}_jobs") = t.snap().jobs - j0.get)
    out
  }
}

/** One workload: its table registration, the operations of one round,
  * and how each operation runs. `check` is true for the first untimed
  * round, whose outputs are kept on disk for the checks. */
trait Workload {
  /** Opens the tables the workload reads, counting those whose row
    * count is the workload's item count. */
  def register(): Unit
  def round: IndexedSeq[String]
  def checkRound: IndexedSeq[String] = round
  def items(op: String): Long
  def run(op: String, check: Boolean, spans: Spans): Map[String, Any]
  def finish(): Map[String, Any] = Map.empty
}

/** An order-free checksum of a result: the sum over rows of a hash of
  * the row, as an observed metric. Floating-point columns enter as text
  * rounded to 9 significant digits, the precision of the oracle
  * comparison, so that summation order inside Spark cannot move it.
  * Columns that Spark cannot hash (maps, variants) and nested types that
  * hold floats are left out; the row count still covers them. */
object Checksum {
  private def hasFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case ArrayType(e, _)        => hasFloat(e)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case _                      => false
  }

  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType | _: VariantType => false
    case ArrayType(e, _)             => hashable(e)
    case StructType(fs)              => fs.forall(f => hashable(f.dataType))
    case _                           => true
  }

  def of(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).flatMap { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case FloatType | DoubleType              => Some(format_string("%.9g", c))
        case dt if hashable(dt) && !hasFloat(dt) => Some(c)
        case _                                   => None
      }
    }
    sum(pmod(xxhash64(lit(1) +: cols: _*), lit(2147483647L)))
  }
}

/** Dashboard refresh: a fixed sample of registry queries, each result
  * written in full to the `noop` sink. A round is two passes, the sample
  * and then the sample reversed, so the warm-up that still goes on in a
  * young JVM falls evenly on every query. The check round is one pass
  * that writes each result as parquet for the oracle comparison. Every
  * operation records the row count and `Checksum` of what it wrote, so a
  * timed operation is compared with its query's checked output. */
final class Analyst(spark: SparkSession, dataDir: String, out: String,
                    sample: IndexedSeq[String]) extends Workload {
  def register(): Unit = Tables.all.foreach(Tables.t(spark, dataDir, _))
  def round: IndexedSeq[String] = sample ++ sample.reverse
  override def checkRound: IndexedSeq[String] = sample
  def items(op: String): Long = 1L

  def run(q: String, check: Boolean, spans: Spans): Map[String, Any] = {
    val df = spans("build")(SparkEntry.queries(q)(spark, dataDir))
    val obs = new Observation("result")
    val observed = df.observe(obs, count(lit(1)).as("n"), Checksum.of(df).as("h"))
    spans("write") {
      if (check) observed.write.mode("overwrite").parquet(s"$out/results/$q")
      else observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    Map("rows" -> m("n"), "checksum" -> m("h"))
  }
}

/** Corpus curation: `Pipeline.curate` over the documents table plus the
  * seeded planted exact duplicates that perfbench/run.py writes into
  * `<out>/input/documents.parquet`. The curated docs go to `noop`
  * (parquet in the check round, kept for the oracle), and the stage
  * report is collected. Each operation records a row count and an
  * order-free checksum of (doc_id, split, quality_bp), compared with the
  * check round's. */
final class Curate(spark: SparkSession, out: String) extends Workload {
  private val docs = Tables.t(spark, s"$out/input", "documents")
  private var nDocs = 0L

  def register(): Unit = nDocs = docs.count()
  def round: IndexedSeq[String] = IndexedSeq("curate")
  def items(op: String): Long = nDocs

  def run(op: String, check: Boolean, spans: Spans): Map[String, Any] = {
    val c = spans("curate_call")(Pipeline.curate(docs))
    val obs = new Observation("docs")
    val observed = c.docs.observe(obs, count(lit(1)).as("n"),
      sum(pmod(xxhash64(col("doc_id"), col("split"), col("quality_bp")),
        lit(2147483647L))).as("h"))
    spans("docs_write") {
      if (check) observed.write.mode("overwrite").parquet(s"$out/check/curated")
      else observed.write.format("noop").mode("overwrite").save()
    }
    val report = c.report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = obs.get
    Map("rows" -> m("n"), "checksum" -> m("h"), "report" -> report)
  }
}

/** Harvest scheduler beats over the events points placed with
  * `SyntheticGeo`. Beat k reads beat k-1's committed tasks back as the
  * in-flight set, plans, writes the grid table and commits its tasks as
  * sink batch k. Beats are `stepMs` apart and tasks live `ttlMs`, so
  * exactly the previous beat's tasks are still in flight. The untimed
  * rounds are the first beats; every beat is checked. */
final class Harvest(spark: SparkSession, dataDir: String, out: String,
                    now0: Long) extends Workload {
  val stepMs = 40L * 60 * 1000
  val ttlMs = 3600L * 1000
  val sink = s"$out/sink"
  private var beat = 0L
  private var lastTasks: DataFrame = _

  private val points = Tables.t(spark, dataDir, "events")
  private var nPoints = 0L

  def register(): Unit = nPoints = points.count()
  def round: IndexedSeq[String] = IndexedSeq("beat")
  def items(op: String): Long = nPoints

  def run(op: String, check: Boolean, spans: Spans): Map[String, Any] = {
    val k = beat
    beat += 1
    val now = now0 + k * stepMs
    val inflight = spans("read_inflight") {
      if (k == 0) spark.range(0).select(col("id").as("tile_id"))
      else IdempotentSink.readCommitted(spark, sink)
        .filter(col("expires_ms") > now).select("tile_id")
    }
    val plan = spans("plan_call")(HarvestCycle.plan(points, SyntheticGeo.lng,
      SyntheticGeo.lat, expr("ts DIV 1000000"), inflight, now, taskTtlMs = ttlMs))
    val wrote = spans("harvest_write") {
      Io.writeSorted(plan.grids, s"$out/grids/beat=$k", 4, "tile_id", "tile_id")
      IdempotentSink.writeBatch(sink)(plan.tasks, k)
    }
    lastTasks = plan.tasks
    val report = plan.report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Map("beat" -> k, "now_ms" -> now, "wrote" -> wrote, "report" -> report)
  }

  /** Replays the last beat id: the sink must skip the write. */
  override def finish(): Map[String, Any] = {
    def listing(): Seq[String] = {
      val root = java.nio.file.Paths.get(sink)
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.map { p =>
        val f = p.toFile
        s"${root.relativize(p)}:${if (f.isFile) f.length else -1}:${f.lastModified}"
      }.toSeq.sorted
      finally st.close()
    }
    val before = listing()
    val wrote = IdempotentSink.writeBatch(sink)(lastTasks, beat - 1)
    Map("replay_beat" -> (beat - 1), "replay_wrote" -> wrote,
      "replay_unchanged" -> (listing() == before),
      "committed" -> IdempotentSink.committedBatches(spark, sink))
  }
}
