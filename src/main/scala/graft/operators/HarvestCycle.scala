package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The reference's end-to-end periodic collection cycle as ONE library
  * composition — the scraping-side counterpart of [[graft.Pipeline]]:
  *
  *   observed points → quadtree grid maintenance (subdivide hot tiles,
  *   `op_estimate_listings_or_divide_*`, operations/grids.py:20)
  *   → per-leaf last-scan bookkeeping (UBDCTask history)
  *   → stale-scan selection excluding in-flight tiles
  *     (operations/grids.py:80 periodical)
  *   → fixed-size task batches with a shared expiry
  *     (chunked group submission, calendars.py:84).
  *
  * One call reads the points once and computes the grid once: the
  * last scan rides the grid's own aggregation, and the grid is
  * materialised (`localCheckpoint`, still distributed) before anything
  * else reads it. The task selection, at most `limit` rows, is held on
  * the driver, and the report is built from what those two already
  * computed, so it costs no job. Later actions on the returned frames
  * re-read neither the points nor the in-flight set.
  */
object HarvestCycle {

  final case class Plan(grids: DataFrame, tasks: DataFrame, report: DataFrame)

  /** Stable 64-bit tile id: zoom in the top bits, then x, then y. */
  def tileId(z: Column, x: Column, y: Column): Column =
    shiftleft(z.cast("long"), 48) + shiftleft(x, 24) + y

  /** @param points    observed listings: lngCol, latCol, tsMsCol
    * @param inflight  tiles with an unexpired submitted task: column `tile_id`
    * @param nowMs     cycle timestamp (drives staleness + expiry)
    * @return grids = current leaf tiles (z,x,y,c,tile_id,last_ts),
    *                 materialised;
    *         tasks = batched work selection (tile_id, last_ts, batch_id,
    *                 expires_ms), a one-partition local relation;
    *         report = one row per stage with counts. */
  def plan(points: DataFrame, lngCol: Column, latCol: Column, tsMsCol: Column,
           inflight: DataFrame, nowMs: Long,
           z0: Int = 3, zMax: Int = 7, threshold: Long = 200L,
           staleAfterMs: Long = 86400000L, batchSize: Int = 10,
           limit: Int = 100, taskTtlMs: Long = 3600000L): Plan = {

    // 1-2. grid maintenance and last scan per leaf in one aggregation,
    // computed once: the observation counts the leaves and, since the
    // leaves partition the points, the points too
    val gridStats = new Observation("harvest_grid")
    val grids = GridOps.subdivideLastTs(points, lngCol, latCol, tsMsCol,
        z0, zMax, threshold)
      .select(col("z"), col("x"), col("y"), col("c"),
        tileId(col("z"), col("x"), col("y")).as("tile_id"), col("last_ts"))
      .observe(gridStats, count(lit(1)).as("leaves"),
        coalesce(sum("c"), lit(0L)).as("points"))
      .localCheckpoint(eager = true)

    // 3. stale selection, excluding in-flight tiles
    val stale = Relational.staleScan(
      grids.select("tile_id", "last_ts"), "tile_id", "last_ts",
      inflight.select("tile_id"), cutoffMs = nowMs - staleAfterMs,
      limit = limit)

    // 4. fixed-size batches, shared expiry per cycle (the window runs
    // over the already-limited selection — ≤ `limit` rows), collected
    // and handed back as one partition: one file per sink batch
    val selected = stale
      .withColumn("batch_id", expr(s"(row_number() OVER (ORDER BY " +
        s"last_ts ASC NULLS FIRST, tile_id) - 1) DIV $batchSize"))
      .withColumn("expires_ms", lit(nowMs + taskTtlMs))
    val taskRows = selected.collect()
    val spark = points.sparkSession
    val tasks = spark.createDataFrame(taskRows.toSeq.asJava, selected.schema)
      .coalesce(1)

    import spark.implicits._
    val stats = gridStats.get
    val report = Seq(
      ("points", stats("points").asInstanceOf[Long]),
      ("leaf_tiles", stats("leaves").asInstanceOf[Long]),
      ("stale_selected", taskRows.length.toLong),
      ("batches", taskRows.map(_.getAs[Long]("batch_id")).distinct.length.toLong))
      .toDF("stage", "n")
    Plan(grids, tasks, report)
  }
}
