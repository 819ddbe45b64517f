package graft.operators

import graft.geo.QuadKey
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quadtree grid refinement, the Spark-first re-expression of the
  * reference's recursive estimate-or-divide flow
  * (/root/reference/src/ubdc_airbnb/ubdc_airbnb/operations/grids.py:20
  * `op_estimate_listings_or_divide_at_grid`, utils/grids.py:22 dedup).
  *
  * The reference recurses tile-by-tile with one count per HTTP call; here
  * the whole refinement is ONE aggregation of the points at the deepest
  * zoom plus (zMax - z0) tiny roll-ups — at 100 TB the single shuffle on
  * the point set dominates and the per-level roll-ups operate on tile
  * counts (≤ #distinct tiles), not points.
  *
  * Output semantics (deterministic, oracle-checkable): a tile (z, x, y)
  * with point-count c is a leaf iff
  *   - z == z0 and c <= threshold, or
  *   - z0 < z <= zMax, parent count > threshold, and (c <= threshold or
  *     z == zMax).
  * Count monotonicity (child ⊆ parent) makes the local parent condition
  * equivalent to "every ancestor was split".
  *
  * [[subdivideLastTs]] carries each leaf's newest timestamp through the
  * same aggregation, for the harvest cycle's last-scan bookkeeping.
  *
  * Only the deepest aggregation ([[deepest]]) has to see the points;
  * everything after it works on at most 4^zMax tile rows, a bound set by
  * the zoom and not by the data. [[refineRows]] is the same roll-up and
  * leaf rule as plain Scala over those rows once collected, for callers
  * whose zMax makes that bound small (the harvest cycle at zMax ≤ 8).
  */
object GridOps {

  /** @return DataFrame(z: int, x: long, y: long, c: long) of leaf tiles. */
  def subdivide(points: DataFrame, lngCol: Column, latCol: Column,
                z0: Int, zMax: Int, threshold: Long): DataFrame =
    refine(points, lngCol, latCol, None, z0, zMax, threshold)

  /** [[subdivide]] plus each leaf's newest point: `max(tsCol)` rides the
    * same aggregation as the count, per deepest tile and then rolled up
    * with `max` beside `sum(c)` (a zMax tile truncates to the same tile as
    * its points at every level), so no second pass over the points.
    * A leaf whose x or y is NULL gets a NULL `last_ts`, as an equi-join
    * of the points to the leaves on (z, x, y) gives: NULL keys never match.
    * @return DataFrame(z: int, x: long, y: long, c: long, last_ts). */
  def subdivideLastTs(points: DataFrame, lngCol: Column, latCol: Column,
                      tsCol: Column, z0: Int, zMax: Int,
                      threshold: Long): DataFrame =
    refine(points, lngCol, latCol, Some(tsCol), z0, zMax, threshold)

  /** The one pass over the points: the count (and, with `tsCol`, the
    * newest `tsCol` as `last_ts`) per zMax tile. x or y is NULL where the
    * point's coordinate is; such points form their own groups.
    * @return DataFrame(x: long, y: long, c: long[, last_ts]), at most
    *         4^zMax rows plus the NULL-coordinate groups. */
  def deepest(points: DataFrame, lngCol: Column, latCol: Column,
              tsCol: Option[Column], zMax: Int): DataFrame =
    points
      .select(Seq(QuadKey.tileX(lngCol, zMax).as("x"),
        QuadKey.tileY(latCol, zMax).as("y")) ++ tsCol.map(_.as("last_ts")): _*)
      .groupBy("x", "y").agg(count(lit(1)).as("c"),
        tsCol.map(_ => max("last_ts").as("last_ts")).toSeq: _*)

  /** [[subdivideLastTs]] finished on the driver: the level roll-up, the
    * sibling-sum leaf rule and the NULL handling of `refine`, over the
    * collected rows of `deepest(..., Some(tsCol), zMax)`. As in Spark, a
    * NULL x or y is a group key of its own at every level (and its
    * parent's), `last_ts` is the greatest non-NULL value, and a leaf with
    * a NULL coordinate gets a NULL `last_ts`.
    * @return rows (z: int, x: long, y: long, c: long, last_ts), the
    *         schema of [[subdivideLastTs]], in no particular order. */
  def refineRows(deepest: Seq[Row], z0: Int, zMax: Int, threshold: Long): Seq[Row] = {
    require(z0 >= 0 && zMax >= z0)
    type Key = (Int, Option[Long], Option[Long])
    def cell(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    val tiles = mutable.HashMap.empty[Key, (Long, Any)]
    for (r <- deepest; z <- z0 to zMax) {
      val k = (z, cell(r, 0).map(_ >> (zMax - z)), cell(r, 1).map(_ >> (zMax - z)))
      val (c, t) = tiles.getOrElse(k, (0L, null))
      tiles(k) = (c + r.getLong(2), nullsFirst.max(t, r.get(3)))
    }
    def parent(k: Key) = (k._1, k._2.map(_ >> 1), k._3.map(_ >> 1))
    val pc = tiles.groupMapReduce(kv => parent(kv._1))(_._2._1)(_ + _)
    tiles.toSeq.collect {
      case (k @ (z, x, y), (c, t)) if (z == z0 && c <= threshold) ||
          (z > z0 && pc(parent(k)) > threshold && (c <= threshold || z == zMax)) =>
        Row(z, x.getOrElse(null), y.getOrElse(null), c,
          if (x.isDefined && y.isDefined) t else null)
    }
  }

  /** SQL ascending order of one orderable column's values, NULLS FIRST;
    * its `max` is SQL's NULL-skipping `max`. */
  private[operators] val nullsFirst: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  private def refine(points: DataFrame, lngCol: Column, latCol: Column,
                     tsCol: Option[Column], z0: Int, zMax: Int,
                     threshold: Long): DataFrame = {
    require(z0 >= 0 && zMax >= z0)
    val last = tsCol.map(_ => col("last_ts")).toSeq
    // every level in ONE reaggregation of the deepest-zoom counts:
    // floor-halving composes, so truncating a zMax tile by (zMax - z)
    // bits IS the z-level tile of the same point. Explodes only the
    // constant level array (cheap generator child), then re-groups —
    // the exploded set is #tiles × #levels rows (tile counts, not
    // points), tiny at any data scale next to the point shuffle in
    // `deepest`.
    val tiles = deepest(points, lngCol, latCol, tsCol, zMax)
      .select(Seq(explode(sequence(lit(z0), lit(zMax))).as("z"),
        col("x"), col("y"), col("c")) ++ last: _*)
      .select(Seq(col("z"), expr(s"shiftright(x, $zMax - z)").as("x"),
        expr(s"shiftright(y, $zMax - z)").as("y"), col("c")) ++ last: _*)
      .groupBy("z", "x", "y").agg(sum("c").as("c"), last.map(max(_).as("last_ts")): _*)
    // the parent's count is exactly the sum of its present children's
    // counts (every point of the parent lands in one child tile), so the
    // parent lookup is a sibling-sum WINDOW over the tile table — one
    // extra shuffle of tile counts, no self-join, no cached intermediate.
    val siblings = Window.partitionBy(col("z"),
      expr("shiftright(x, 1)"), expr("shiftright(y, 1)"))
    tiles
      .withColumn("pc", sum(col("c")).over(siblings))
      .filter(
        (col("z") === z0 && col("c") <= threshold) ||
          (col("z") > z0 && col("pc") > threshold &&
            (col("c") <= threshold || col("z") === zMax)))
      .select(Seq(col("z").cast("int").as("z"), col("x"), col("y"), col("c")) ++
        last.map(when(col("x").isNotNull && col("y").isNotNull, _).as("last_ts")): _*)
  }

  /** Oracle SQL mirror: per-level tile counts straight from the points
    * (floor composition makes this equal to the rolled-up form). */
  def subdivideSql(pointsSql: String, lngE: String, latE: String,
                   z0: Int, zMax: Int, threshold: Long): String = {
    val perLevel = (z0 to zMax).map { z =>
      s"SELECT $z AS z, ${QuadKey.tileXSql(lngE, z)} AS x, ${QuadKey.tileYSql(latE, z)} AS y FROM pts"
    }.mkString(" UNION ALL ")
    s"""WITH pts AS ($pointsSql),
        tiles AS (SELECT z, x, y, count(*) AS c FROM ($perLevel) GROUP BY 1, 2, 3)
        SELECT CAST(t.z AS INT) AS z, t.x AS x, t.y AS y, t.c AS c
        FROM tiles t LEFT JOIN tiles p
          ON p.z = t.z - 1 AND p.x = (t.x >> 1) AND p.y = (t.y >> 1)
        WHERE (t.z = $z0 AND t.c <= $threshold)
           OR (t.z > $z0 AND p.c > $threshold AND (t.c <= $threshold OR t.z = $zMax))"""
  }
}
