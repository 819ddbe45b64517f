package graft.queries

import graft.Tables.t
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 coverage additions, part 145 — sequential testing, privacy
  * lattices, preference ranking, stratified epidemiology:
  *
  *  - q595: SPRT (sequential probability ratio test) replay on the
  *    daily urgent-order fraction, H0 p=0.35 vs H1 p=0.45, α=β=0.05:
  *    per-day log-likelihood-ratio increments from exact counts ×
  *    floor-micro ln constants, cumulative LLR as ONE prefix window
  *    over the bounded day domain (no recursion — the LLR walk is a
  *    plain cumsum), first boundary crossing + decision.
  *  - q596: k-anonymity generalization lattice: 3 price widths × 3
  *    date granularities = 9 nodes, ALL computed from one finest-grain
  *    census (the nested-division identity a DIV (m·k) = (a DIV m)
  *    DIV k makes every coarser node a re-aggregation of the bounded
  *    fine census — raw rows are scanned once); per node min group
  *    size and <5-suppression bp, cheapest node meeting ≤1%.
  *  - q597: Bradley–Terry preference strengths over brands from
  *    within-order quantity comparisons: bounded 25×25 win matrix, two
  *    quantized BT iterations p'_a = W_a·1e6 DIV Σ_b g_ab·1e6 DIV
  *    (p_a+p_b), top-10 strengths.
  *  - q598: Mantel–Haenszel pooled odds ratio across nation strata
  *    (urgent exposure × fulfilled outcome): per-stratum a·d·1e6 DIV n
  *    exact-integer terms, pooled vs crude OR (the confounding
  *    contrast).
  *
  * Scale shapes: q595 windows the bounded day aggregate; q596 scans
  * facts once into a bounded census; q597/q598 reduce to 25×25 / 25×4
  * cells before any iteration.
  */
object QueriesEV extends QueryPack {
  import Q._

  def defs: Seq[QDef] = Seq(

    // --------------------------------------------------------------- q595
    QDef("q595_sprt_replay",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .selectExpr(
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000 AS day",
            """CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1L ELSE 0L END AS g""")
          .groupBy("day").agg(count(lit(1)).as("n"),
            sum("g").cast("long").as("x"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val walk = daily
          .selectExpr("day", "n", "x",
            """x * CAST(floor(ln(CAST(0.45 AS DOUBLE) / CAST(0.35 AS DOUBLE)) * 1000000) AS BIGINT)
               + (n - x) * CAST(floor(ln(CAST(0.55 AS DOUBLE) / CAST(0.65 AS DOUBLE)) * 1000000) AS BIGINT)
               AS inc""")
          .withColumn("llr", sum("inc").over(w).cast("long"))
          .withColumn("bound",
            expr("CAST(floor(ln(CAST(19.0 AS DOUBLE)) * 1000000) AS BIGINT)"))
        val crossed = walk
          .where(expr("llr >= bound OR llr <= -bound"))
          .orderBy("day").limit(1)
          .selectExpr("day AS cross_day", "llr AS llr_at_cross",
            "CASE WHEN llr >= bound THEN 'H1' ELSE 'H0' END AS decision")
        val tot = walk.agg(count(lit(1)).as("n_days"),
          max(struct(col("day"), col("llr"))).as("m"))
          .selectExpr("n_days", "m.llr AS final_llr")
        tot.join(crossed, lit(true), "left_outer")
          .selectExpr("n_days", "final_llr",
            "coalesce(cross_day, -1L) AS cross_day",
            "coalesce(llr_at_cross, 0L) AS llr_at_cross",
            "coalesce(decision, 'inconclusive') AS decision")
      },
      Some("""
        WITH daily AS (
          SELECT epoch_ms(o_orderdate) // 86400000 AS day,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS x
          FROM orders GROUP BY 1),
        walk AS (
          SELECT day, n, x,
                 CAST(sum(x * CAST(floor(ln(CAST(0.45 AS DOUBLE) / CAST(0.35 AS DOUBLE)) * 1000000) AS BIGINT)
                   + (n - x) * CAST(floor(ln(CAST(0.55 AS DOUBLE) / CAST(0.65 AS DOUBLE)) * 1000000) AS BIGINT))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS llr,
                 CAST(floor(ln(CAST(19.0 AS DOUBLE)) * 1000000) AS BIGINT) AS bound
          FROM daily),
        crossed AS (
          SELECT day AS cross_day, llr AS llr_at_cross,
                 CASE WHEN llr >= bound THEN 'H1' ELSE 'H0' END AS decision
          FROM walk WHERE llr >= bound OR llr <= -bound
          ORDER BY day LIMIT 1),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 max_by(llr, day) AS final_llr
          FROM walk)
        SELECT t.n_days, CAST(t.final_llr AS BIGINT) AS final_llr,
               coalesce(c.cross_day, -1) AS cross_day,
               coalesce(c.llr_at_cross, 0) AS llr_at_cross,
               coalesce(c.decision, 'inconclusive') AS decision
        FROM tot t LEFT JOIN crossed c ON true""")),

    // --------------------------------------------------------------- q596
    QDef("q596_kanon_lattice",
      (s, dir) => {
        val s2 = s
        import s2.implicits._
        // finest census scans the facts ONCE; every lattice node is a
        // re-aggregation (a DIV (m·k) = (a DIV m) DIV k for positives)
        val fine = t(s, dir, "orders")
          .selectExpr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 100 DIV 100 AS b100",
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000 DIV 30 AS d30")
          .groupBy("b100", "d30").agg(count(lit(1)).as("c"))
        val nodeDefs = Seq((100L, 1L, 30L, 1L), (100L, 1L, 90L, 3L),
          (100L, 1L, 360L, 12L), (1000L, 10L, 30L, 1L), (1000L, 10L, 90L, 3L),
          (1000L, 10L, 360L, 12L), (10000L, 100L, 30L, 1L),
          (10000L, 100L, 90L, 3L), (10000L, 100L, 360L, 12L))
        // r12 DUAL PATH: the 9 lattice nodes, their suppression stats and
        // the chosen node all re-aggregate the finest census — under the
        // gate ONE census job + driver rollups replace cache + count +
        // the crossJoin re-aggregation + the chosen broadcast subtree
        // (~4 jobs, stats computed twice). limit(gate+1) bounds driver
        // memory without a count job.
        // NULLs: a NULL b100 (no price) is its own group at every node.
        val gate = 2000000
        val censusRows = fine.limit(gate + 1).collect()
        if (censusRows.length <= gate && censusRows.nonEmpty) {
          val rows = censusRows.map(r =>
            (optLong(r, 0), r.getLong(1), r.getLong(2))) // b100, d30, c
          val stats = nodeDefs.map { case (w, wf, g, gf) =>
            val groups = rows.groupMapReduce(r =>
              (r._1.map(Math.floorDiv(_, wf)), Math.floorDiv(r._2, gf)))(_._3)(_ + _)
            val total = groups.valuesIterator.sum
            val supp = groups.valuesIterator.filter(_ < 5).sum
            (w, g, groups.size.toLong, groups.valuesIterator.min,
              supp * 10000 / total)
          }.sortBy(s0 => (s0._1, s0._2))
          val chosen = stats.find(_._5 <= 100).map(s0 => (s0._1, s0._2))
          stats.map { case (w, g, ng, mn, sbp) =>
            (w, g, ng, mn, sbp, if (chosen.contains((w, g))) 1L else 0L)
          }.toDF("w", "g", "n_groups", "min_size", "suppress_bp", "chosen")
        } else {
        fine.cache(); fine.count()
        val nodes = nodeDefs.toDF("w", "wf", "g", "gf")
        val stats = fine.crossJoin(broadcast(nodes))
          .groupBy(col("w"), col("g"), expr("b100 DIV wf").as("pb"),
            expr("d30 DIV gf").as("db"))
          .agg(sum("c").cast("long").as("gc"))
          .groupBy("w", "g").agg(
            count(lit(1)).as("n_groups"),
            min("gc").cast("long").as("min_size"),
            sum(when(col("gc") < 5, col("gc")).otherwise(0L)).cast("long")
              .as("suppressed"),
            sum("gc").cast("long").as("total"))
          .selectExpr("w", "g", "n_groups", "min_size",
            "suppressed * 10000 DIV total AS suppress_bp")
        val chosen = stats.where(expr("suppress_bp <= 100"))
          .orderBy(col("w"), col("g")).limit(1)
          .selectExpr("w AS cw", "g AS cg")
        stats.join(broadcast(chosen), lit(true), "left_outer")
          .selectExpr("w", "g", "n_groups", "min_size", "suppress_bp",
            "CASE WHEN w = cw AND g = cg THEN 1L ELSE 0L END AS chosen")
          .orderBy("w", "g")
        }
      },
      Some("""
        WITH fine AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   // 100 // 100 AS b100,
                 epoch_ms(o_orderdate) // 86400000 // 30 AS d30,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2),
        nodes AS (SELECT * FROM (VALUES (100, 1, 30, 1), (100, 1, 90, 3),
          (100, 1, 360, 12), (1000, 10, 30, 1), (1000, 10, 90, 3),
          (1000, 10, 360, 12), (10000, 100, 30, 1), (10000, 100, 90, 3),
          (10000, 100, 360, 12)) t(w, wf, g, gf)),
        groups AS (
          SELECT w, g, b100 // wf AS pb, d30 // gf AS db,
                 CAST(sum(c) AS BIGINT) AS gc
          FROM fine, nodes GROUP BY 1, 2, 3, 4),
        stats AS (
          SELECT w, g, CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(min(gc) AS BIGINT) AS min_size,
                 CAST(sum(CASE WHEN gc < 5 THEN gc ELSE 0 END) * 10000
                   // sum(gc) AS BIGINT) AS suppress_bp
          FROM groups GROUP BY 1, 2),
        chosen AS (
          SELECT w AS cw, g AS cg FROM stats
          WHERE suppress_bp <= 100 ORDER BY w, g LIMIT 1)
        SELECT CAST(s.w AS BIGINT) AS w, CAST(s.g AS BIGINT) AS g,
               s.n_groups, s.min_size, s.suppress_bp,
               CASE WHEN s.w = c.cw AND s.g = c.cg THEN CAST(1 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS chosen
        FROM stats s LEFT JOIN chosen c ON true
        ORDER BY s.w, s.g""")),

    // --------------------------------------------------------------- q597
    QDef("q597_bradley_terry",
      (s, dir) => {
        val ob = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            expr("l_partkey = p_partkey"))
          .groupBy(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
          .agg(sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)"))
            .cast("long").as("q"))
        // the at-scale work ends at `wins` (bounded by brand² rows); the
        // 2 MM iterations over the ≤625-row game table run driver-side in
        // BigInt (the q625 eigensolve pattern, r7 verdict #4) — one Spark
        // job instead of 2 iterations × 2 joins + 1 agg each. The self-
        // join's two ob subtrees are identical, so the shuffle is planned
        // once and reused (ReusedExchange) — no cache/eager count needed.
        val wins = ob.selectExpr("ok", "brand AS a", "q AS qa")
          .join(ob.selectExpr("ok", "brand AS b", "q AS qb"), Seq("ok"))
          .where(expr("a <> b AND qa > qb"))
          .groupBy("a", "b").agg(count(lit(1)).cast("long").as("w"))
          .collect()
          .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
            BigInt(r.getAs[Long]("w"))))
        val M6 = BigInt(1000000)
        val games = (wins.map { case (a, b, w) => ((a, b), w) } ++
          wins.map { case (a, b, w) => ((b, a), w) })
          .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
        val totW = wins.groupBy(_._1)
          .map { case (a, vs) => (a, vs.map(_._3).sum) }
        // mirror the distributed/SQL semantics exactly: DIV-by-zero is
        // NULL (term skipped by SUM); a brand survives an iteration only
        // if its denominator sum is defined and > 0 and it has wins
        var p: Map[String, BigInt] =
          games.keysIterator.map(_._1).toSet.iterator
            .map((br: String) => br -> BigInt(40000)).toMap // 1e6 / 25
        for (_ <- 1 to 2) {
          val dens = games.toSeq.flatMap { case ((a, b), g) =>
            for (pa <- p.get(a); pb <- p.get(b);
                 t <- if (pa + pb == 0) None else Some(g * M6 / (pa + pb)))
              yield (a, t)
          }.groupBy(_._1).map { case (a, ts) => (a, ts.map(_._2).sum) }
          p = dens.iterator.flatMap { case (a, den) =>
            for (wa <- totW.get(a); if den > 0)
              yield a -> wa * M6 / den
          }.toMap
        }
        val sc = s
        import sc.implicits._
        p.toSeq.flatMap { case (br, pv) =>
          totW.get(br).map(wa => (br, wa.toLong, pv.toLong))
        }.sortBy { case (br, _, pv) => (-pv, br) }
          .take(10)
          .toDF("brand", "wins", "strength_ppm")
      },
      Some("""
        WITH ob AS (
          SELECT l.l_orderkey AS ok, p.p_brand AS brand,
                 CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT))
                   AS BIGINT) AS q
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY 1, 2),
        wins AS (
          SELECT x.brand AS a, y.brand AS b, CAST(count(*) AS BIGINT) AS w
          FROM ob x JOIN ob y ON x.ok = y.ok AND x.brand <> y.brand
            AND x.q > y.q
          GROUP BY 1, 2),
        games AS (
          SELECT a, b, CAST(sum(w) AS BIGINT) AS g FROM (
            SELECT a, b, w FROM wins
            UNION ALL SELECT b AS a, a AS b, w FROM wins)
          GROUP BY 1, 2),
        totw AS (SELECT a, CAST(sum(w) AS BIGINT) AS wa FROM wins GROUP BY 1),
        p0 AS (SELECT DISTINCT a AS br, CAST(40000 AS BIGINT) AS p
               FROM games),
        p1 AS (
          SELECT g.a AS br, t.wa * 1000000 // sum(g.g * 1000000
                   // (x.p + y.p)) AS p
          FROM games g
          JOIN p0 x ON g.a = x.br JOIN p0 y ON g.b = y.br
          JOIN totw t ON g.a = t.a
          GROUP BY g.a, t.wa
          HAVING sum(g.g * 1000000 // (x.p + y.p)) > 0),
        p2 AS (
          SELECT g.a AS br, t.wa * 1000000 // sum(g.g * 1000000
                   // (x.p + y.p)) AS p
          FROM games g
          JOIN p1 x ON g.a = x.br JOIN p1 y ON g.b = y.br
          JOIN totw t ON g.a = t.a
          GROUP BY g.a, t.wa
          HAVING sum(g.g * 1000000 // (x.p + y.p)) > 0)
        SELECT p2.br AS brand, t.wa AS wins, CAST(p2.p AS BIGINT)
                 AS strength_ppm
        FROM p2 JOIN totw t ON p2.br = t.a
        ORDER BY strength_ppm DESC, brand LIMIT 10""")),

    // --------------------------------------------------------------- q598
    QDef("q598_mh_odds_ratio",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            expr("o_custkey = c_custkey"))
          .selectExpr("c_nationkey AS nk",
            """CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1L ELSE 0L END AS e""",
            "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS y")
          .groupBy("nk").agg(
            sum(expr("e * y")).cast("long").as("a"),
            sum(expr("e * (1 - y)")).cast("long").as("b"),
            sum(expr("(1 - e) * y")).cast("long").as("c"),
            sum(expr("(1 - e) * (1 - y)")).cast("long").as("d"))
          .withColumn("n", expr("a + b + c + d"))
          .where(expr("n > 0"))
        // per-stratum a·d products cross int64 at scale — floor-double
        // micro terms, text-mirrored in the oracle (identical rounding)
        cells
          .selectExpr("a", "b", "c", "d", "n",
            """CAST(floor(CAST(a AS DOUBLE) * d * 1000000 / n) AS BIGINT)
               AS num_t""",
            """CAST(floor(CAST(b AS DOUBLE) * c * 1000000 / n) AS BIGINT)
               AS den_t""")
          .agg(count(lit(1)).as("n_strata"),
            sum("a").cast("long").as("sa"), sum("b").cast("long").as("sb"),
            sum("c").cast("long").as("sc"), sum("d").cast("long").as("sd"),
            sum("num_t").cast("long").as("num_micro"),
            sum("den_t").cast("long").as("den_micro"))
          .where(expr("den_micro > 0 AND sb > 0 AND sc > 0"))
          .selectExpr("n_strata", "num_micro", "den_micro",
            "num_micro * 1000 DIV den_micro AS mh_or_milli",
            """CAST(floor(CAST(sa AS DOUBLE) * sd * 1000
                 / (CAST(sb AS DOUBLE) * sc)) AS BIGINT) AS crude_or_milli""")
      },
      Some("""
        WITH cells AS (
          SELECT c.c_nationkey AS nk,
                 CAST(sum(e * y) AS BIGINT) AS a,
                 CAST(sum(e * (1 - y)) AS BIGINT) AS b,
                 CAST(sum((1 - e) * y) AS BIGINT) AS c2,
                 CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d
          FROM (
            SELECT o_custkey,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END AS e,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders) o
          JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1),
        t AS (
          SELECT a, b, c2, d, a + b + c2 + d AS n FROM cells
          WHERE a + b + c2 + d > 0),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_strata,
                 CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
                 CAST(sum(c2) AS BIGINT) AS sc, CAST(sum(d) AS BIGINT) AS sd,
                 CAST(sum(CAST(floor(CAST(a AS DOUBLE) * d * 1000000 / n)
                   AS BIGINT)) AS BIGINT) AS num_micro,
                 CAST(sum(CAST(floor(CAST(b AS DOUBLE) * c2 * 1000000 / n)
                   AS BIGINT)) AS BIGINT) AS den_micro
          FROM t)
        SELECT n_strata, num_micro, den_micro,
               num_micro * 1000 // den_micro AS mh_or_milli,
               CAST(floor(CAST(sa AS DOUBLE) * sd * 1000
                 / (CAST(sb AS DOUBLE) * sc)) AS BIGINT) AS crude_or_milli
        FROM agg WHERE den_micro > 0 AND sb > 0 AND sc > 0"""))
  )
}
