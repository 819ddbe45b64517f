package graft.operators

import java.nio.file.Files
import graft.SparkSpec
import graft.geo.{QuadKey, SyntheticGeo}
import graft.streaming.IdempotentSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** End-to-end harvest-cycle composition invariants on real testdata. */
class HarvestCycleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")

  private lazy val pts = events
    .select(SyntheticGeo.lng.as("lng"), SyntheticGeo.lat.as("lat"),
      expr("ts DIV 1000000").as("ts_ms"))

  /** The same points with about 1 ts in 5 and 1 lng in 7 set to NULL. */
  private lazy val nulledPts = events
    .select(
      when(col("event_id") % 7 === 3, lit(null).cast("double"))
        .otherwise(SyntheticGeo.lng).as("lng"),
      SyntheticGeo.lat.as("lat"),
      when(col("event_id") % 5 === 1, lit(null).cast("long"))
        .otherwise(expr("ts DIV 1000000")).as("ts_ms"))

  /** `nulledPts` with about 1 lat in 11 set to NULL as well. */
  private lazy val nulledLatPts = events
    .select(
      when(col("event_id") % 7 === 3, lit(null).cast("double"))
        .otherwise(SyntheticGeo.lng).as("lng"),
      when(col("event_id") % 11 === 4, lit(null).cast("double"))
        .otherwise(SyntheticGeo.lat).as("lat"),
      when(col("event_id") % 5 === 1, lit(null).cast("long"))
        .otherwise(expr("ts DIV 1000000")).as("ts_ms"))

  private def planOf(points: DataFrame): HarvestCycle.Plan =
    HarvestCycle.plan(points, col("lng"), col("lat"), col("ts_ms"),
      spark.range(0).select(col("id").as("tile_id")),
      nowMs = 1706659200000L, batchSize = 7, limit = 40)

  private def reportOf(p: HarvestCycle.Plan): Map[String, Long] =
    p.report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The grid as two passes over the points: the leaves from
    * `GridOps.subdivide`, then every point's tile at each level equi-joined
    * to the leaves for the newest `ts_ms`. */
  private def twoPassGrid(points: DataFrame): DataFrame = {
    val leaves = GridOps.subdivide(points, col("lng"), col("lat"), 3, 7, 200L)
      .withColumn("tile_id", HarvestCycle.tileId(col("z"), col("x"), col("y")))
    val ptTiles = points
      .select(QuadKey.tileX(col("lng"), 7).as("px"),
        QuadKey.tileY(col("lat"), 7).as("py"), col("ts_ms"))
      .select(col("ts_ms"), explode(sequence(lit(3), lit(7))).as("z"),
        col("px"), col("py"))
      .select(col("ts_ms"), col("z"), expr("shiftright(px, 7 - z)").as("x"),
        expr("shiftright(py, 7 - z)").as("y"))
    val lastScan = ptTiles
      .join(leaves.select("z", "x", "y"), Seq("z", "x", "y"))
      .groupBy("z", "x", "y").agg(max("ts_ms").as("last_ts"))
    leaves.join(lastScan, Seq("z", "x", "y"), "left")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType))
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (r, rs) => r -> rs.size }
    assert(rows(got) == rows(want))
  }

  private lazy val plan: HarvestCycle.Plan = {
    // two in-flight tiles: the first two leaves by id
    val leaves = GridOps.subdivide(pts, col("lng"), col("lat"), 3, 7, 200L)
      .withColumn("tile_id",
        HarvestCycle.tileId(col("z"), col("x"), col("y")))
    val inflight = leaves.select("tile_id").orderBy("tile_id").limit(2)
    val nowMs = pts.agg(max("ts_ms")).head.getLong(0) + 1000L
    HarvestCycle.plan(pts, col("lng"), col("lat"), col("ts_ms"),
      inflight, nowMs, staleAfterMs = 0L, batchSize = 7, limit = 40)
  }

  test("every selected task is a current leaf tile and not in-flight") {
    val leafIds = plan.grids.select("tile_id").as[Long].collect().toSet
    val taskIds = plan.tasks.select("tile_id").as[Long].collect()
    assert(taskIds.nonEmpty && taskIds.forall(leafIds.contains))
    val inflightIds = plan.grids.select("tile_id").orderBy("tile_id")
      .limit(2).as[Long].collect().toSet
    assert(taskIds.forall(id => !inflightIds.contains(id)))
  }

  test("batches are full except possibly the last; shared expiry") {
    val batches = plan.tasks.groupBy("batch_id")
      .agg(count(lit(1)).as("n"), countDistinct("expires_ms").as("ne"))
      .collect()
    assert(batches.forall(_.getAs[Long]("ne") == 1L))
    val sizes = batches.map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("n"))
      .sortBy(_._1)
    sizes.dropRight(1).foreach { case (_, n) => assert(n == 7L) }
    assert(sizes.last._2 <= 7L)
  }

  test("selection respects the limit and staleness ordering") {
    val tasks = plan.tasks.orderBy("batch_id", "tile_id").collect()
    assert(tasks.length <= 40)
    val report = reportOf(plan)
    assert(report("stale_selected") == tasks.length.toLong)
    assert(report("leaf_tiles") > 0 && report("points") > 0)
  }

  test("the one-pass grid equals the two-pass composition, row for row") {
    val p = planOf(pts)
    assertSameRows(p.grids, twoPassGrid(pts))
    val report = reportOf(p)
    assert(report("points") == pts.count())
    assert(report("leaf_tiles") == p.grids.count())
  }

  test("NULL timestamps are skipped; a leaf with NULL coordinates has no last scan") {
    assert(nulledPts.filter(col("ts_ms").isNull).count() > 0)
    val p = planOf(nulledPts)
    assertSameRows(p.grids, twoPassGrid(nulledPts))
    val nullLeaves = p.grids.filter(col("x").isNull).collect()
    assert(nullLeaves.nonEmpty)
    assert(nullLeaves.forall(_.isNullAt(5)))
    assert(p.grids.filter(col("x").isNotNull && col("last_ts").isNull).count() == 0)
    val report = reportOf(p)
    assert(report("points") == nulledPts.count())
  }

  test("the returned grid and tasks re-read no file") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    for (df <- Seq(plan.grids, plan.tasks, plan.grids.groupBy("z").count())) {
      df.collect()
      val scans = nodes(df.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.isEmpty, df.queryExecution.executedPlan.treeString)
    }
  }

  test("a committed task batch is one parquet file") {
    val root = Files.createTempDirectory("harvest-sink").toString
    assert(plan.tasks.count() > 1)
    assert(IdempotentSink.writeBatch(root)(plan.tasks, 0L))
    val parts = new java.io.File(s"$root/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1)
  }

  test("the driver finish and the distributed path return the same plan") {
    val (tMin, tMax) = {
      val r = pts.agg(min("ts_ms"), max("ts_ms")).head
      (r.getLong(0), r.getLong(1))
    }
    def same(points: DataFrame, zMax: Int, threshold: Long, limit: Int): Map[String, Long] = {
      // a NULL id, a few real leaf ids and an id that is no leaf
      val leafIds = GridOps.subdivide(points, col("lng"), col("lat"), 3, zMax, threshold)
        .select(HarvestCycle.tileId(col("z"), col("x"), col("y")).as("tile_id"))
        .filter(col("tile_id").isNotNull).orderBy("tile_id").limit(3)
        .as[Long].collect().toSeq
      val inflight = (Seq[java.lang.Long](null, 12345L) ++ leafIds.map(Long.box))
        .toDF("tile_id")
      // the cutoff falls inside the points' time range: some leaves are stale
      val nowMs = (tMin + tMax) / 2
      val local = HarvestCycle.planOnDriver(points, col("lng"), col("lat"),
        col("ts_ms"), inflight, nowMs, 3, zMax, threshold, 0L, 7, limit, 3600000L)
      val dist = HarvestCycle.planDistributed(points, col("lng"), col("lat"),
        col("ts_ms"), inflight, nowMs, 3, zMax, threshold, 0L, 7, limit, 3600000L)
      val what = s"zMax $zMax, threshold $threshold, limit $limit"
      assertSameRows(local.grids, dist.grids)
      assert(local.tasks.schema.map(f => f.name -> f.dataType) ==
        dist.tasks.schema.map(f => f.name -> f.dataType), what)
      assert(local.tasks.collect().toSeq == dist.tasks.collect().toSeq, what)
      assert(reportOf(local) == reportOf(dist), what)
      reportOf(dist)
    }
    for (zMax <- Seq(7, 9); points <- Seq(pts, nulledLatPts)) {
      // every stale leaf fits in the limit
      val all = same(points, zMax, 200L, limit = 1000000)
      assert(all("stale_selected") > 0 && all("stale_selected") < all("leaf_tiles"))
      // the grid splits down to zMax and the limit cuts the selection
      val deep = same(points, zMax, 5L, limit = 40)
      assert(deep("leaf_tiles") > all("leaf_tiles") && deep("stale_selected") == 40)
    }
    assert(nulledLatPts.filter(col("lat").isNull).count() > 0)
    for (zMax <- Seq(7, 9))
      assert(same(pts.limit(0), zMax, 200L, limit = 40)("leaf_tiles") == 0)
  }

  test("one plan call at the default zoom starts at most 3 Spark jobs") {
    val root = Files.createTempDirectory("harvest-inflight").toString
    IdempotentSink.writeBatch(root)(plan.tasks, 0L)
    val inflight = IdempotentSink.readCommitted(spark, root).select("tile_id")
    val jobs = jobsStarted {
      HarvestCycle.plan(pts, col("lng"), col("lat"), col("ts_ms"), inflight,
        1706659200000L, batchSize = 7, limit = 40)
    }
    info(s"$jobs jobs")
    assert(jobs <= 3)
  }
}
