package graft.queries

import graft.Tables.t
import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 coverage additions, part 118 — copula dependence, keyset
  * pagination, first-fit-decreasing packing, winnowing fingerprints:
  *
  *  - q491: empirical copula audit — joint (order total, line count)
  *    at the 25/50/75% exact-rank marginal quantiles: C(u,v) vs the
  *    independence surface u·v (bp) on the 3×3 grid. Dependence
  *    structure beyond q84's correlation — tail dependence shows up in
  *    the corner cells.
  *  - q492: keyset-pagination equivalence proof — page 5 (rows
  *    201–250 of the (date, key) total order) fetched by OFFSET/LIMIT
  *    and by the keyset predicate (ms, key) > cursor: row sets proven
  *    identical. The q10 scale lesson as a query: keyset scans one
  *    page, offset scans five.
  *  - q493: first-fit-decreasing bin packing — top-200 orders by value
  *    packed into 10 bins of capacity ceil(total/10)·11/10: FFD's
  *    sequential first-fit over the sorted items as a ONE-TASK bounded
  *    recurrence (items pre-aggregated and capped upstream); the
  *    oracle carries all 10 bin loads through a recursive CTE. The
  *    quality upgrade of q321's next-fit.
  *  - q494: winnowing (MOSS) fingerprint selection — 5-char-gram
  *    polynomial hashes, window-of-4 minima as the document's
  *    fingerprints, shared-fingerprint mass per language via Σ df·(df−1)
  *    DIV 2 WITHOUT pair enumeration. The local-fingerprint dedup
  *    index beside q31 (MinHash) and q212 (boilerplate).
  *
  * Reference analog: price/size dependence, deep listing pagination,
  * harvest batch packing, description copy detection.
  */
object QueriesDU extends QueryPack {
  import Q._

  // NOT private: Spark codegen accesses these.
  case class FfdItem(rn: Long, wv: Long, cap: Long)
  case class FfdOut(bins_used: Long, max_load: Long, min_load: Long,
                    placed: Long, unplaced: Long)

  def defs: Seq[QDef] = Seq(

    // --------------------------------------------------------------- q491
    QDef("q491_copula_grid",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .join(t(s, dir, "lineitem").groupBy("l_orderkey")
            .agg(count(lit(1)).cast("long").as("nl")),
            col("o_orderkey") === col("l_orderkey"))
          .selectExpr("o_orderkey",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x", "nl AS y")
        // r12 DUAL PATH: the marginal cut points AND the 3×3 grid counts
        // all derive from the JOINT (x, y) value census — under the gate
        // ONE census job replaces cache + count + two cut subtrees + the
        // base×grid scan (~6 jobs). limit(gate+1) bounds driver memory
        // without a count job; past the gate, the frames below.
        // NULLs: n counts every row; x sorts ASC NULLS LAST, so a cut
        // that lands in the null tail is NULL, and x <= qx is never true
        // for a NULL x or qx.
        val gate = 2000000
        val jointRows = base.groupBy("x", "y")
          .agg(count(lit(1)).cast("bigint").as("c"))
          .limit(gate + 1).collect()
        if (jointRows.length <= gate && jointRows.nonEmpty) {
          val sc2 = s
          import sc2.implicits._
          val joint = jointRows.map(r =>
            (optLong(r, 0), optLong(r, 1), r.getLong(2)))
          val n = joint.iterator.map(_._3).sum
          def cut(census: Seq[(Option[Long], Long)], qbp: Long): Option[Long] = {
            var cum = 0L
            census.find { case (_, c) => cum += c; cum * 10000 >= n * qbp }
              .flatMap(_._1)
          }
          val ord = nullsLast(Ordering[Long])
          val xc = joint.groupMapReduce(_._1)(_._3)(_ + _).toSeq.sortBy(_._1)(ord)
          val yc = joint.groupMapReduce(_._2)(_._3)(_ + _).toSeq.sortBy(_._1)(ord)
          def le(a: Option[Long], b: Option[Long]) =
            a.exists(x => b.exists(x <= _))
          val out = for (ubp <- Seq(2500L, 5000L, 7500L);
                         vbp <- Seq(2500L, 5000L, 7500L)) yield {
            val qx = cut(xc, ubp); val qy = cut(yc, vbp)
            val c = joint.iterator
              .collect { case (x, y, cc) if le(x, qx) && le(y, qy) => cc }.sum
            (ubp, vbp, c, c * 10000 / n, (ubp * vbp) / 10000,
              c * 10000 / n - (ubp * vbp) / 10000)
          }
          out.toDF("ubp", "vbp", "c", "c_bp", "indep_bp", "dep_bp")
        } else {
        base.cache(); base.count()
        // ONE distinct-value cumsum per column; all three cut points read
        // it. The cumsum runs as a plain window over the AGGREGATED value
        // census — both domains are bounded by construction (price cents
        // range is generator-fixed at any SF; lines-per-order ≤ 7), so
        // this is the §5 aggwin class (1), not a row-rank: the earlier
        // two ScaleRank frames cost two checkpoint pins and benched
        // 3.3 s of job overhead at sf0.1
        val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("v").asc_nulls_last)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        def cuts(cn: String, prefix: String) = base
          .groupBy(col(cn).as("v")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wCum))
          .crossJoin(broadcast(base
            .agg(count(lit(1)).cast("bigint").as("nn"))))
          .withColumn("qbp", explode(expr(
            "array(CAST(2500 AS BIGINT), CAST(5000 AS BIGINT), CAST(7500 AS BIGINT))")))
          .where(col("cum") * 10000 >= col("nn") * col("qbp"))
          .groupBy()
          .agg(min(when(col("qbp") === 2500, col("v"))).as(s"${prefix}25"),
            min(when(col("qbp") === 5000, col("v"))).as(s"${prefix}50"),
            min(when(col("qbp") === 7500, col("v"))).as(s"${prefix}75"))
        val qs = cuts("x", "qx").crossJoin(cuts("y", "qy"))
        val tot = base.agg(count(lit(1)).cast("bigint").as("n"))
        val uv = qs.crossJoin(broadcast(tot))
          .select(explode(expr("array(CAST(2500 AS BIGINT), CAST(5000 AS BIGINT), CAST(7500 AS BIGINT))")).as("ubp"),
            col("qx25"), col("qx50"), col("qx75"),
            col("qy25"), col("qy50"), col("qy75"), col("n"))
          .select(col("ubp"),
            explode(expr("array(CAST(2500 AS BIGINT), CAST(5000 AS BIGINT), CAST(7500 AS BIGINT))")).as("vbp"),
            col("qx25"), col("qx50"), col("qx75"),
            col("qy25"), col("qy50"), col("qy75"), col("n"))
          .selectExpr("ubp", "vbp",
            "CASE ubp WHEN 2500 THEN qx25 WHEN 5000 THEN qx50 ELSE qx75 END AS qx",
            "CASE vbp WHEN 2500 THEN qy25 WHEN 5000 THEN qy50 ELSE qy75 END AS qy",
            "n")
        val grid = base.crossJoin(broadcast(uv))
          .selectExpr("ubp", "vbp", "qx", "qy", "x", "y", "n")
        grid.groupBy("ubp", "vbp").agg(
          max("n").as("n"),
          sum(when(col("x") <= col("qx") && col("y") <= col("qy"), 1L)
            .otherwise(0L)).cast("bigint").as("c"))
          .selectExpr("ubp", "vbp", "c", "c * 10000 DIV n AS c_bp",
            "(ubp * vbp) DIV 10000 AS indep_bp",
            "c * 10000 DIV n - (ubp * vbp) DIV 10000 AS dep_bp")
          .orderBy("ubp", "vbp")
        }
      },
      Some("""
        WITH base AS MATERIALIZED (
          SELECT o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                 nl AS y
          FROM orders JOIN (
            SELECT l_orderkey, count(*) AS nl FROM lineitem GROUP BY 1) li
            ON o_orderkey = li.l_orderkey),
        rx AS (SELECT x, row_number() OVER (ORDER BY x, o_orderkey) AS rn,
                      count(*) OVER () AS n FROM base),
        ry AS (SELECT y, row_number() OVER (ORDER BY y, o_orderkey) AS rn,
                      count(*) OVER () AS n FROM base),
        q AS (
          SELECT (SELECT min(x) FROM rx WHERE rn * 10000 >= n * 2500) AS qx25,
                 (SELECT min(x) FROM rx WHERE rn * 10000 >= n * 5000) AS qx50,
                 (SELECT min(x) FROM rx WHERE rn * 10000 >= n * 7500) AS qx75,
                 (SELECT min(y) FROM ry WHERE rn * 10000 >= n * 2500) AS qy25,
                 (SELECT min(y) FROM ry WHERE rn * 10000 >= n * 5000) AS qy50,
                 (SELECT min(y) FROM ry WHERE rn * 10000 >= n * 7500) AS qy75,
                 (SELECT count(*) FROM base) AS n),
        cells AS (
          SELECT u.ubp, v.vbp,
                 CASE u.ubp WHEN 2500 THEN qx25 WHEN 5000 THEN qx50
                   ELSE qx75 END AS qx,
                 CASE v.vbp WHEN 2500 THEN qy25 WHEN 5000 THEN qy50
                   ELSE qy75 END AS qy, n
          FROM q,
               (SELECT unnest([2500, 5000, 7500]) AS ubp) u,
               (SELECT unnest([2500, 5000, 7500]) AS vbp) v)
        SELECT CAST(ubp AS BIGINT) AS ubp, CAST(vbp AS BIGINT) AS vbp,
               CAST(sum(CASE WHEN x <= qx AND y <= qy THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
               CAST(sum(CASE WHEN x <= qx AND y <= qy THEN 1 ELSE 0 END)
                 * 10000 // max(n) AS BIGINT) AS c_bp,
               CAST((ubp * vbp) // 10000 AS BIGINT) AS indep_bp,
               CAST(sum(CASE WHEN x <= qx AND y <= qy THEN 1 ELSE 0 END)
                 * 10000 // max(n) - (ubp * vbp) // 10000 AS BIGINT)
                 AS dep_bp
        FROM cells, base
        GROUP BY ubp, vbp ORDER BY ubp, vbp""")),

    // --------------------------------------------------------------- q492
    QDef("q492_keyset_pagination",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .selectExpr("o_orderkey",
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS ms")
        // only ranks 1..250 are ever read: top-250 via orderBy+limit,
        // then the rank window covers 250 rows (was: global rank over
        // every order, hidden behind the cache)
        val ranked = o.orderBy("ms", "o_orderkey").limit(250)
          .withColumn("rn", row_number().over(Window
            .orderBy(col("ms"), col("o_orderkey"))).cast("long"))
        ranked.cache(); ranked.count()
        val offsetPage = ranked.where(col("rn") >= 201 && col("rn") <= 250)
          .select("o_orderkey", "ms")
        val cursor = ranked.where(col("rn") === 200)
          .select(col("ms").as("cms"), col("o_orderkey").as("ckey"))
        val keysetPage = o.crossJoin(broadcast(cursor))
          .where(col("ms") > col("cms") ||
            (col("ms") === col("cms") && col("o_orderkey") > col("ckey")))
          .orderBy("ms", "o_orderkey").limit(50)
          .select("o_orderkey", "ms")
        val matches = offsetPage.join(keysetPage, Seq("o_orderkey", "ms"))
          .agg(count(lit(1)).cast("long").as("matching"))
        offsetPage.agg(count(lit(1)).cast("long").as("offset_rows"))
          .crossJoin(keysetPage.agg(count(lit(1)).cast("long")
            .as("keyset_rows")))
          .crossJoin(matches)
          .crossJoin(broadcast(cursor))
          .selectExpr("offset_rows", "keyset_rows", "matching",
            "cms AS cursor_ms", "ckey AS cursor_key")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, epoch_ms(o_orderdate) AS ms FROM orders),
        ranked AS MATERIALIZED (
          SELECT o_orderkey, ms,
                 row_number() OVER (ORDER BY ms, o_orderkey) AS rn
          FROM o),
        offsetp AS (SELECT o_orderkey, ms FROM ranked
                    WHERE rn >= 201 AND rn <= 250),
        cursor AS (SELECT ms AS cms, o_orderkey AS ckey FROM ranked
                   WHERE rn = 200),
        keysetp AS (
          SELECT o_orderkey, ms FROM o, cursor
          WHERE ms > cms OR (ms = cms AND o_orderkey > ckey)
          ORDER BY ms, o_orderkey LIMIT 50),
        m AS (SELECT count(*) AS matching
              FROM offsetp JOIN keysetp USING (o_orderkey, ms))
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM offsetp) AS offset_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM keysetp) AS keyset_rows,
               (SELECT CAST(matching AS BIGINT) FROM m) AS matching,
               (SELECT CAST(cms AS BIGINT) FROM cursor) AS cursor_ms,
               (SELECT CAST(ckey AS BIGINT) FROM cursor) AS cursor_key""")),

    // --------------------------------------------------------------- q493
    QDef("q493_ffd_packing",
      (s, dir) => {
        import s.implicits._
        val items = t(s, dir, "orders")
          .selectExpr("o_orderkey",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS wv")
          // top-200 via orderBy+limit; the rank window covers 200 rows
          .orderBy(col("wv").desc, col("o_orderkey")).limit(200)
          .withColumn("rk", row_number().over(Window
            .orderBy(col("wv").desc, col("o_orderkey"))).cast("long"))
        val cap = items.agg(expr("(sum(wv) DIV 10) * 11 DIV 10")
          .cast("long").as("cap"))
        val seq0 = items.crossJoin(broadcast(cap))
          .select(col("rk").as("rn"), col("wv"), col("cap"))
          .as[FfdItem]
        seq0.coalesce(1).sortWithinPartitions("rn")
          .mapPartitions { it =>
            val bins = Array.fill(10)(0L)
            var cap = 0L
            var placed = 0L; var unplaced = 0L
            it.foreach { item =>
              cap = item.cap
              var i = 0
              var done = false
              while (i < 10 && !done) {
                if (bins(i) + item.wv <= cap) {
                  bins(i) += item.wv; placed += 1; done = true
                }
                i += 1
              }
              if (!done) unplaced += 1
            }
            val used = bins.count(_ > 0).toLong
            val maxL = bins.max
            val minL = bins.filter(_ > 0).foldLeft(Long.MaxValue)(math.min)
            Iterator(FfdOut(used, maxL, if (used == 0) 0L else minL,
              placed, unplaced))
          }.toDF()
          .selectExpr("bins_used", "max_load", "min_load", "placed",
            "unplaced")
      },
      Some {
        val binCols = (1 to 10).map(i => s"b$i").mkString(", ")
        def chooseExpr(w: String) =
          "CASE " + (1 to 10).map(i =>
            s"WHEN b$i + $w <= cap THEN $i").mkString(" ") + " ELSE 0 END"
        val updates = (1 to 10).map(i =>
          s"b$i + CASE WHEN ch = $i THEN w ELSE 0 END AS b$i").mkString(",\n                 ")
        s"""
        WITH RECURSIVE items AS MATERIALIZED (
          SELECT rk AS rn, wv FROM (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS wv,
                   row_number() OVER (ORDER BY
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                     o_orderkey) AS rk
            FROM orders)
          WHERE rk <= 200),
        capq AS (SELECT (sum(wv) // 10) * 11 // 10 AS cap FROM items),
        rec AS (
          SELECT CAST(0 AS BIGINT) AS rn,
                 ${(1 to 10).map(i => s"CAST(0 AS BIGINT) AS b$i")
                   .mkString(", ")},
                 CAST(0 AS BIGINT) AS placed, CAST(0 AS BIGINT) AS unplaced,
                 cap
          FROM capq
          UNION ALL
          SELECT rn, $updates,
                 placed + CASE WHEN ch > 0 THEN 1 ELSE 0 END,
                 unplaced + CASE WHEN ch = 0 THEN 1 ELSE 0 END,
                 cap
          FROM (
            SELECT r.rn + 1 AS rn, ${binCols}, r.placed, r.unplaced, r.cap,
                   i.wv AS w, ${chooseExpr("i.wv")} AS ch
            FROM rec r JOIN items i ON i.rn = r.rn + 1)),
        fin AS (SELECT * FROM rec ORDER BY rn DESC LIMIT 1),
        loads AS (
          SELECT unnest([${binCols}]) AS ld FROM fin)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM loads WHERE ld > 0)
                 AS bins_used,
               (SELECT CAST(max(ld) AS BIGINT) FROM loads) AS max_load,
               (SELECT CAST(coalesce(min(CASE WHEN ld > 0 THEN ld END), 0)
                 AS BIGINT) FROM loads) AS min_load,
               (SELECT CAST(placed AS BIGINT) FROM fin) AS placed,
               (SELECT CAST(unplaced AS BIGINT) FROM fin) AS unplaced"""
      }),

    // --------------------------------------------------------------- q494
    QDef("q494_winnowing",
      (s, dir) => {
        // native one-pass winnowing (r10): per-doc distinct window-min
        // fingerprints with no posexplode, no interpreted rolling-hash
        // lambdas, no |grams|-row window shuffle (17.8s -> the gram walk)
        val fps = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(TextFunctions.winnowFps(col("text"), 5, 4)).as("fp"))
        val df = fps.groupBy("lang", "fp")
          .agg(countDistinct("doc_id").cast("bigint").as("ndocs"))
        df.groupBy("lang").agg(
          count(lit(1)).cast("long").as("n_fps"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L))
            .cast("bigint").as("shared_fps"),
          sum(expr("ndocs * (ndocs - 1) DIV 2")).cast("bigint")
            .as("shared_pairs"),
          max("ndocs").cast("long").as("max_df"))
          .orderBy("lang")
      },
      Some(s"""
        WITH dg AS (
          SELECT doc_id, lang, ${TextFunctions.charNgramsSql("text", 5)}
                 AS lst
          FROM documents),
        grams0 AS (
          SELECT doc_id, lang, i - 1 AS pos, lst[i] AS g
          FROM dg, unnest(range(1, len(lst) + 1)) AS t(i)),
        grams AS (
          SELECT doc_id, lang, pos, g,
                 ${TextFunctions.rollingFingerprintSql("g")} AS h
          FROM grams0),
        fps AS (
          SELECT DISTINCT doc_id, lang, fp FROM (
            SELECT doc_id, lang,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM grams)),
        df AS (
          SELECT lang, fp, count(DISTINCT doc_id) AS ndocs
          FROM fps GROUP BY 1, 2)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_fps,
               CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS shared_fps,
               CAST(sum(ndocs * (ndocs - 1) // 2) AS BIGINT) AS shared_pairs,
               CAST(max(ndocs) AS BIGINT) AS max_df
        FROM df GROUP BY 1 ORDER BY lang"""))
  )
}
