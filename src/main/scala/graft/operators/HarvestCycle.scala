package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

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
  * One call reads the points once, in the grid's deepest-zoom
  * aggregation ([[GridOps.deepest]]). What follows it works on tile rows,
  * at most 4^zMax of them whatever the data size, so the path depends on
  * zMax alone:
  *  - zMax ≤ [[DriverMaxZoom]] ([[planOnDriver]]): the at most
  *    4^8 = 65,536 deepest tiles are collected and the roll-up, leaf
  *    rule, stale selection, batches and report are finished in plain
  *    Scala ([[GridOps.refineRows]]). Only the in-flight ids that are
  *    leaf ids come back, in one job. The call runs three Spark jobs and
  *    no Catalyst plan after the aggregation's.
  *  - larger zMax ([[planDistributed]]): the grid stays distributed
  *    ([[GridOps.subdivideLastTs]], materialised with `localCheckpoint`)
  *    and the selection is [[Relational.staleScan]]; only its at most
  *    `limit` rows are collected.
  *
  * Both return the same rows and schema, and the report is built from
  * what they already computed, so it costs no job. Later actions on the
  * returned frames re-read neither the points nor the in-flight set.
  */
object HarvestCycle {

  final case class Plan(grids: DataFrame, tasks: DataFrame, report: DataFrame)

  /** The deepest zoom finished on the driver: 4^8 = 65,536 tiles. */
  private val DriverMaxZoom = 8

  /** Stable 64-bit tile id: zoom in the top bits, then x, then y. */
  def tileId(z: Column, x: Column, y: Column): Column =
    shiftleft(z.cast("long"), 48) + shiftleft(x, 24) + y

  /** @param points    observed listings: lngCol, latCol, tsMsCol (numeric
    *                  epoch milliseconds)
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
           limit: Int = 100, taskTtlMs: Long = 3600000L): Plan =
    (if (zMax <= DriverMaxZoom) planOnDriver _ else planDistributed _)(points,
      lngCol, latCol, tsMsCol, inflight, nowMs, z0, zMax, threshold,
      staleAfterMs, batchSize, limit, taskTtlMs)

  /** [[plan]] with everything after the deepest aggregation on the driver:
    * grids and tasks are local relations. */
  private[operators] def planOnDriver(points: DataFrame, lngCol: Column,
      latCol: Column, tsMsCol: Column, inflight: DataFrame, nowMs: Long,
      z0: Int, zMax: Int, threshold: Long, staleAfterMs: Long, batchSize: Int,
      limit: Int, taskTtlMs: Long): Plan = {
    val spark = points.sparkSession
    // 1-2. the one pass over the points, then grid maintenance and last
    // scan per leaf on the collected tiles
    val deep = GridOps.deepest(points, lngCol, latCol, Some(tsMsCol), zMax)
    val tsType = deep.schema("last_ts").dataType
    val grid = GridOps.refineRows(deep.collect().toSeq, z0, zMax, threshold).map { r =>
      val id = if (r.isNullAt(1) || r.isNullAt(2)) null
        else (r.getInt(0).toLong << 48) + (r.getLong(1) << 24) + r.getLong(2)
      Row(r(0), r(1), r(2), r(3), id, r(4))
    }
    val gridSchema = StructType(Seq(StructField("z", IntegerType, nullable = false),
      StructField("x", LongType), StructField("y", LongType),
      StructField("c", LongType, nullable = false), StructField("tile_id", LongType),
      StructField("last_ts", tsType)))

    // 3. stale selection: a NULL leaf id is never in flight; NULL last
    // scans first, then the oldest, ties by id
    val leafIds = grid.filterNot(_.isNullAt(4)).map(_.getLong(4)).toSet
    val busy = if (leafIds.isEmpty) Set.empty[Long] else inflightLeaves(inflight, leafIds)
    val cutoffMs = nowMs - staleAfterMs
    val stale = grid
      .filter(r => (r.isNullAt(4) || !busy(r.getLong(4))) &&
        (r.isNullAt(5) || atMost(r.get(5), cutoffMs)))
      .sortBy(r => (r.get(5), r.get(4)))(
        Ordering.Tuple2(GridOps.nullsFirst, GridOps.nullsFirst))
      .take(limit)

    // 4. fixed-size batches, shared expiry per cycle
    val taskRows = stale.zipWithIndex.map { case (r, i) =>
      Row(r(4), r(5), (i / batchSize).toLong, nowMs + taskTtlMs)
    }
    val taskSchema = StructType(Seq(StructField("tile_id", LongType),
      StructField("last_ts", tsType), StructField("batch_id", LongType),
      StructField("expires_ms", LongType, nullable = false)))
    finish(spark, spark.createDataFrame(grid.asJava, gridSchema),
      taskRows, taskSchema, points = grid.map(_.getLong(3)).sum, leaves = grid.size)
  }

  /** [[plan]] with the grid kept distributed, for any zMax. */
  private[operators] def planDistributed(points: DataFrame, lngCol: Column,
      latCol: Column, tsMsCol: Column, inflight: DataFrame, nowMs: Long,
      z0: Int, zMax: Int, threshold: Long, staleAfterMs: Long, batchSize: Int,
      limit: Int, taskTtlMs: Long): Plan = {
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
    val selected = stale
      .withColumn("batch_id", expr(s"(row_number() OVER (ORDER BY " +
        s"last_ts ASC NULLS FIRST, tile_id) - 1) DIV $batchSize"))
      .withColumn("expires_ms", lit(nowMs + taskTtlMs))
    val stats = gridStats.get
    finish(points.sparkSession, grids, selected.collect().toSeq, selected.schema,
      points = stats("points").asInstanceOf[Long],
      leaves = stats("leaves").asInstanceOf[Long])
  }

  /** The in-flight ids that are leaf ids, in one job: each task returns
    * at most one row per leaf, however large `inflight` is. */
  private def inflightLeaves(inflight: DataFrame, leafIds: Set[Long]): Set[Long] = {
    val ids = inflight.sparkSession.sparkContext.broadcast(leafIds)
    try inflight.select(col("tile_id").cast("long")).as(Encoders.LONG)
      .mapPartitions(it => it.filter(id => id != null && ids.value(id.longValue))
        .toSet.iterator)(Encoders.LONG)
      .collect().map(_.longValue).toSet
    finally ids.destroy()
  }

  /** `v <= cutoffMs` as SQL compares a numeric column with a BIGINT. */
  private def atMost(v: Any, cutoffMs: Long): Boolean = v match {
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
              _: java.lang.Byte) => n.asInstanceOf[Number].longValue <= cutoffMs
    case n: java.lang.Number => n.doubleValue <= cutoffMs.toDouble
  }

  /** The task rows as one partition (one file per sink batch) and the
    * report from counts both paths already hold. */
  private def finish(spark: SparkSession, grids: DataFrame, taskRows: Seq[Row],
                     taskSchema: StructType, points: Long, leaves: Long): Plan = {
    import spark.implicits._
    val tasks = spark.createDataFrame(taskRows.asJava, taskSchema).coalesce(1)
    val report = Seq(
      ("points", points),
      ("leaf_tiles", leaves),
      ("stale_selected", taskRows.length.toLong),
      ("batches", taskRows.map(_.getLong(2)).distinct.length.toLong))
      .toDF("stage", "n")
    Plan(grids, tasks, report)
  }
}
