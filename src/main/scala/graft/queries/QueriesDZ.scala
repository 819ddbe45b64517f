package graft.queries

import graft.Tables.t
import graft.functions.PortableHash
import graft.functions.TextFunctions._
import graft.operators.ScaleRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 coverage additions, part 123 — preference ranking, importance
  * reweighting, sketch quantiles, convex hulls:
  *
  *  - q506: Bradley–Terry strength ratings from pairwise preferences —
  *    consecutive same-user events form a "match" between two event
  *    types (winner = higher `value`, ties to the lexicographically
  *    smaller type); two quantized minorization–maximization iterations
  *    over the bounded type domain yield normalized strengths. The
  *    preference-pair → rating shape of RLHF reward-data pipelines.
  *  - q507: DSIR-style importance weights — hashed word-bigram features
  *    (64 buckets, portable md5 hash), target distribution = lang='en'
  *    docs, raw = full corpus; per-doc importance is the mean smoothed
  *    target/raw bucket ratio in ppm. The data-selection reweighting
  *    step of LLM corpus curation (Xie et al. DSIR, hashed-ngram form).
  *  - q508: mergeable 64-bin equi-width histogram sketch of order
  *    totals (cents) with interpolated quantile estimates at
  *    p25/50/75/90 and an accuracy gate vs the exact rank quantile
  *    (ScaleRank.quantileDisc's shared-cumsum form — never ranks rows).
  *  - q509: per-region convex hull (Andrew monotone chain) over the
  *    bounded grid of distinct customer cells — hull vertex count,
  *    doubled shoelace area, and vertex checksums. Oracle runs the
  *    same chain as a small-step push/pop machine in a recursive CTE
  *    with LIST state (≤2n steps per chain, n bounded by the 40×32
  *    grid). The AOI-footprint summarization shape (reference
  *    managers.py:221 ST_Union-adjacent reporting).
  *
  * Scale shapes: q506 pairs are windowed per user then collapse to a
  * ≤|types|² matrix; q507's bucket table (64 rows) broadcasts back onto
  * the exploded bigrams; q508's sketch is 64 mergeable counters and the
  * exact side runs on the distinct-value domain, not rows; q509 dedups
  * facts to a ≤1280-cell bounded grid before any per-group work.
  */
object QueriesDZ extends QueryPack {
  import Q._

  case class HullCell(region: String, x: Long, y: Long)
  case class HullOut(region: String, n_cells: Long, hull_vertices: Long,
      hull_area2: Long, sum_hx: Long, sum_hy: Long)

  def defs: Seq[QDef] = Seq(

    // --------------------------------------------------------------- q506
    QDef("q506_bradley_terry",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .withColumn("pt", lag("event_type", 1).over(w))
          .withColumn("pv", lag("value", 1).over(w))
          .where(col("pt").isNotNull && col("pt") =!= col("event_type"))
          .selectExpr("least(event_type, pt) AS a",
            "greatest(event_type, pt) AS b",
            """CASE WHEN value > pv THEN event_type
                    WHEN pv > value THEN pt
                    ELSE least(event_type, pt) END AS winner""")
        // the at-scale work ends at `m` (bounded by event-type² rows);
        // both MM iterations run driver-side in BigInt over the collected
        // match table (the q625 eigensolve pattern, r7 verdict #4) — one
        // Spark job instead of an eager count + two broadcast-join aggs.
        // Option math mirrors SQL NULL semantics exactly: DIV-by-zero →
        // NULL, SUM skips NULLs (NULL only when every term is NULL).
        val m = pairs.groupBy("a", "b").agg(
          count(lit(1)).cast("long").as("n"),
          sum(when(col("winner") === col("a"), 1L).otherwise(0L))
            .cast("long").as("wa"))
          .collect()
          .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
            BigInt(r.getAs[Long]("n")), BigInt(r.getAs[Long]("wa"))))
        val M6 = BigInt(1000000)
        def divOpt(num: BigInt, den: BigInt): Option[BigInt] =
          if (den == 0) None else Some(num / den)
        def sumOpt(ts: Seq[Option[BigInt]]): Option[BigInt] = {
          val d = ts.flatten
          if (d.isEmpty) None else Some(d.sum)
        }
        // directed view: per type i, each opponent j with match count and
        // i's wins — the Σ_j n_ij/(p_i+p_j) MM denominator reads off it.
        val dirv = m.map { case (a, b, n, wa) => (a, b, n, wa) } ++
          m.map { case (a, b, n, wa) => (b, a, n, n - wa) }
        val types = dirv.map(_._1).distinct.sorted
        val tot = dirv.groupBy(_._1).map { case (i, rs) =>
          // iteration 1 from the uniform prior p=1000 milli: the per-pair
          // term n*1e6 DIV 2000 folds into the same pass
          i -> (rs.map(_._3).sum, rs.map(_._4).sum,
            rs.map(r => r._3 * M6 / 2000).sum)
        }
        val p1 = tot.map { case (i, (_, w, d1)) => i -> divOpt(w * M6, d1) }
        val s1 = sumOpt(p1.values.toSeq)
        val p1n = p1.map { case (i, v) =>
          i -> (for (pv <- v; s <- s1; r <- divOpt(pv * M6, s)) yield r)
        }
        // iteration 2 with the real denominator Σ_j n_ij*1e6 DIV (p_i+p_j)
        val d2 = dirv.groupBy(_._1).map { case (i, rs) =>
          i -> sumOpt(rs.map { case (_, j, n, _) =>
            for (pi <- p1n(i); pj <- p1n(j); t <- divOpt(n * M6, pi + pj))
              yield t
          })
        }
        val p2 = tot.map { case (i, (_, w, _)) =>
          i -> d2(i).flatMap(d => divOpt(w * M6, d))
        }
        val s2 = sumOpt(p2.values.toSeq)
        val strength = p2.map { case (i, v) =>
          i -> (for (pv <- v; s <- s2; r <- divOpt(pv * M6, s)) yield r)
        }
        // rank over the bounded type domain: strength DESC (nulls last,
        // the Spark/DuckDB default), event_type ASC tiebreak
        val sc = s
        import sc.implicits._
        types.sortBy(i => (strength(i).isEmpty,
            strength(i).map(v => -v.toLong).getOrElse(0L), i))
          .zipWithIndex
          .map { case (i, k) =>
            val (nm, w, _) = tot(i)
            (i, nm.toLong, w.toLong, strength(i).map(_.toLong), k + 1L)
          }.toSeq
          .toDF("event_type", "n_matches", "wins", "strength_ppm", "rank")
      },
      Some("""
        WITH lagd AS (
          SELECT event_type, value,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS pt,
                 lag(value) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS pv
          FROM events),
        pairs AS (
          SELECT least(event_type, pt) AS a, greatest(event_type, pt) AS b,
                 CASE WHEN value > pv THEN event_type
                      WHEN pv > value THEN pt
                      ELSE least(event_type, pt) END AS winner
          FROM lagd WHERE pt IS NOT NULL AND pt <> event_type),
        m AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN winner = a THEN 1 ELSE 0 END) AS BIGINT)
                   AS wa
          FROM pairs GROUP BY 1, 2),
        dirv AS (
          SELECT a AS i, b AS j, n, wa AS w FROM m
          UNION ALL SELECT b, a, n, n - wa FROM m),
        tot AS (
          SELECT i, CAST(sum(n) AS BIGINT) AS n_matches,
                 CAST(sum(w) AS BIGINT) AS wins,
                 CAST(sum(n * 1000000 // 2000) AS BIGINT) AS d1
          FROM dirv GROUP BY 1),
        p1 AS (SELECT i, n_matches, wins, wins * 1000000 // d1 AS p1 FROM tot),
        p1n AS (SELECT i, n_matches, wins,
                       p1 * 1000000 // (SELECT CAST(sum(p1) AS BIGINT) FROM p1)
                         AS p
                FROM p1),
        d2 AS (
          SELECT d.i, CAST(sum(d.n * 1000000 // (pi.p + pj.p)) AS BIGINT)
                   AS d2
          FROM dirv d
          JOIN p1n pi ON d.i = pi.i
          JOIN p1n pj ON d.j = pj.i
          GROUP BY 1),
        p2 AS (
          SELECT t.i, t.n_matches, t.wins, t.wins * 1000000 // d2.d2 AS p2
          FROM p1n t JOIN d2 ON t.i = d2.i),
        p2n AS (SELECT i AS event_type, n_matches, wins,
                       CAST(p2 * 1000000 //
                         (SELECT CAST(sum(p2) AS BIGINT) FROM p2) AS BIGINT)
                         AS strength_ppm
                FROM p2)
        SELECT event_type, n_matches, wins, strength_ppm,
               CAST(row_number() OVER (ORDER BY strength_ppm DESC, event_type)
                 AS BIGINT) AS rank
        FROM p2n ORDER BY rank""")),

    // --------------------------------------------------------------- q507
    QDef("q507_dsir_weights",
      (s, dir) => {
        // narrow cache (r11, guide §2.3 "project before the exchange"):
        // only the 64-value bucket id survives past the map side — the
        // r10 plan cached the bigram STRING with every exploded row and
        // scanned that much wider frame three times. (A per-(doc,bucket)
        // pre-aggregated census was also benched: its extra exchange cost
        // more than the cache bytes it saved at sf0.1 — 2.2 s vs 1.0 s —
        // and was reverted; the narrow projection keeps the job shape.)
        val bg = t(s, dir, "documents")
          .withColumn("w", words(col("text")))
          .select(col("doc_id"), col("source"), col("lang"),
            explode(wordNgrams("w", 2)).as("bigram"))
          .select(col("doc_id"), col("source"), col("lang"),
            (PortableHash.md5Long(col("bigram")) % 64).as("bucket"))
          .cache()
        bg.count() // eager: raw/target/per-doc subtrees share one scan
        val raw = bg.groupBy("bucket").agg(count(lit(1)).as("raw_cnt"))
        val tgt = bg.where(col("lang") === "en")
          .groupBy("bucket").agg(count(lit(1)).as("tgt_cnt"))
        val wtab = raw.join(tgt, Seq("bucket"), "left")
          .selectExpr("bucket",
            "(coalesce(tgt_cnt, CAST(0 AS BIGINT)) + 1) * 1000000 DIV (raw_cnt + 64) AS wt")
        val perDoc = bg
          .join(broadcast(wtab), Seq("bucket"))
          .groupBy("doc_id", "source").agg(
            count(lit(1)).as("n_bg"),
            sum("wt").cast("long").as("swt"))
          .selectExpr("doc_id", "source", "swt DIV n_bg AS score")
        perDoc.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            expr("sum(score) DIV count(1)").cast("long").as("mean_score_ppm"),
            max(struct(col("score"), (-col("doc_id")).as("nd"))).as("best"))
          .selectExpr("source", "n_docs", "mean_score_ppm",
            "-best.nd AS top_doc_id", "best.score AS top_score_ppm")
          .orderBy("source")
      },
      Some(s"""
        WITH bg AS (
          SELECT doc_id, source, lang,
                 unnest(${wordNgramsSql("w", 2)}) AS bigram
          FROM (SELECT doc_id, source, lang, ${wordsSql("text")} AS w
                FROM documents)),
        f AS (SELECT doc_id, source, lang,
                     ${PortableHash.md5LongSql("bigram")} % 64 AS bucket
              FROM bg),
        raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS raw_cnt
                FROM f GROUP BY 1),
        tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tgt_cnt
                FROM f WHERE lang = 'en' GROUP BY 1),
        wtab AS (
          SELECT r.bucket,
                 (coalesce(t.tgt_cnt, 0) + 1) * 1000000 // (r.raw_cnt + 64)
                   AS wt
          FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket),
        per_doc AS (
          SELECT f.doc_id, f.source,
                 CAST(sum(w.wt) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS score
          FROM f JOIN wtab w ON f.bucket = w.bucket
          GROUP BY 1, 2),
        ranked AS (
          SELECT source, doc_id, score,
                 row_number() OVER (PARTITION BY source
                   ORDER BY score DESC, doc_id) AS rn
          FROM per_doc)
        SELECT p.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(CAST(sum(p.score) AS BIGINT) //
                 CAST(count(*) AS BIGINT) AS BIGINT) AS mean_score_ppm,
               CAST(max(CASE WHEN r.rn = 1 THEN r.doc_id END) AS BIGINT)
                 AS top_doc_id,
               CAST(max(CASE WHEN r.rn = 1 THEN r.score END) AS BIGINT)
                 AS top_score_ppm
        FROM per_doc p
        LEFT JOIN ranked r ON p.doc_id = r.doc_id AND r.rn = 1
        GROUP BY 1 ORDER BY p.source""")),

    // --------------------------------------------------------------- q508
    QDef("q508_sketch_quantiles",
      (s, dir) => {
        val v = t(s, dir, "orders")
          .selectExpr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v")
        // r12 DUAL PATH: n/vmin/vmax, the 64-bin sketch, its cumulative
        // walk, the 4 interpolated estimates AND the exact quantiles all
        // derive from the distinct-value census — under the gate ONE
        // census job replaces the ext agg + binned agg + ScaleRank
        // running-sum chain (~6 jobs). limit(gate+1) bounds driver
        // memory without a count job; past the gate, frames fallback.
        // NULLs: n counts them, vmin/vmax skip them, and a NULL v lands
        // in bin 63 (least() skips NULL in both engines); the exact side
        // sorts v ASC NULLS LAST, so a rank in the null tail gives a NULL
        // exact and err_bp.
        val gate = 2000000
        val censusRows = v.groupBy("v").agg(count(lit(1)).as("c"))
          .limit(gate + 1).collect()
        if (censusRows.length <= gate && censusRows.nonEmpty) {
          val sc2 = s
          import sc2.implicits._
          val vc = censusRows.map(r => (optLong(r, 0), r.getLong(1)))
            .sortBy(_._1)(nullsLast(Ordering[Long]))
          val n = vc.iterator.map(_._2).sum
          val vals = vc.flatMap(_._1)
          val vmin = vals.headOption; val vmax = vals.lastOption
          val span = for (hi <- vmax; lo <- vmin) yield hi - lo + 1
          // 64-bin sketch counts + cumulative, from the value census
          val binCnt = new Array[Long](64)
          vc.foreach { case (x, c) =>
            val b = (for (xv <- x; lo <- vmin; sp <- span)
              yield math.min(63L, (xv - lo) * 64 / sp)).getOrElse(63L)
            binCnt(b.toInt) += c }
          val binCum = binCnt.scanLeft(0L)(_ + _).tail
          // exact side: running sum over the sorted value domain
          val qs = Seq(25L, 50L, 75L, 90L)
          val out = qs.map { q =>
            val r = (n * q + 99) / 100
            val b = binCum.indexWhere(_ >= r)
            val cumB = binCum(b); val cntB = binCnt(b)
            val est = for (lo0 <- vmin; sp <- span) yield {
              val lo = lo0 + sp * b / 64
              val hi = lo0 + sp * (b + 1) / 64
              lo + (hi - lo) * (r - (cumB - cntB) - 1) / cntB
            }
            var cum = 0L
            val exact = vc.find { case (_, c) => cum += c; cum * 100 >= n * q }
              .flatMap(_._1)
            val errBp = for (e <- est; x <- exact) yield (e - x).abs * 10000 / x
            (q, n, est, exact, errBp)
          }
          out.toDF("q_pct", "n", "est", "exact", "err_bp")
        } else if (censusRows.isEmpty) {
          val sc2 = s
          import sc2.implicits._
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("q_pct", "n", "est", "exact", "err_bp")
        } else {
        val ext = v.agg(count(lit(1)).as("n"), min("v").as("vmin"),
          max("v").as("vmax"))
        val binned = v.crossJoin(broadcast(ext))
          .selectExpr("n", "vmin", "vmax",
            "least(CAST(63 AS BIGINT), (v - vmin) * 64 DIV (vmax - vmin + 1)) AS b")
        val sketch = binned.groupBy("n", "vmin", "vmax", "b")
          .agg(count(lit(1)).as("cnt"))
        // 64-row frame: the cumulative window is bounded by construction
        val cum = sketch.withColumn("cum",
          sum("cnt").over(Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val qs = Seq(25, 50, 75, 90)
        val qdf = s.range(0, 4).selectExpr(
          s"element_at(array(${qs.mkString(",")}), CAST(id + 1 AS INT)) AS q_pct")
        // estimate: first bin whose cumulative count reaches the ceil rank,
        // linearly interpolated inside the bin on exact integer edges
        val est = qdf.crossJoin(cum)
          .withColumn("r", expr("(n * q_pct + 99) DIV 100"))
          .where(col("cum") >= col("r"))
          .groupBy("q_pct").agg(
            min(struct(col("b"), col("cnt"), col("cum"), col("n"),
              col("vmin"), col("vmax"), col("r"))).as("st"))
          .selectExpr("q_pct", "st.n AS n",
            """st.vmin + (st.vmax - st.vmin + 1) * st.b DIV 64
               + ((st.vmin + (st.vmax - st.vmin + 1) * (st.b + 1) DIV 64)
                  - (st.vmin + (st.vmax - st.vmin + 1) * st.b DIV 64))
                 * (st.r - (st.cum - st.cnt) - 1) DIV st.cnt AS est""")
        // exact side: one shared cumsum over the DISTINCT-value domain
        val byV = v.groupBy("v").agg(count(lit(1)).as("c"))
        val vcum = ScaleRank.withGlobalRunningSum(byV, Seq(col("v").asc_nulls_last),
          col("c"), "vc")
        val exact = qdf.crossJoin(
            vcum.crossJoin(broadcast(vcum.agg(max("vc").as("nn")))))
          .where(expr("vc * 100 >= nn * q_pct"))
          .groupBy("q_pct").agg(min("v").as("exact"))
        est.join(exact, Seq("q_pct"))
          .selectExpr("CAST(q_pct AS BIGINT) AS q_pct", "n", "est", "exact",
            "abs(est - exact) * 10000 DIV exact AS err_bp")
          .orderBy("q_pct")
        }
      },
      Some("""
        WITH v AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
          FROM orders),
        ext AS (SELECT CAST(count(*) AS BIGINT) AS n, min(v) AS vmin,
                       max(v) AS vmax FROM v),
        binned AS (
          SELECT n, vmin, vmax,
                 least(CAST(63 AS BIGINT),
                   (v - vmin) * 64 // (vmax - vmin + 1)) AS b
          FROM v CROSS JOIN ext),
        sketch AS (
          SELECT n, vmin, vmax, b, CAST(count(*) AS BIGINT) AS cnt
          FROM binned GROUP BY 1, 2, 3, 4),
        cum AS (
          SELECT *, CAST(sum(cnt) OVER (ORDER BY b ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM sketch),
        qs AS (SELECT unnest([25, 50, 75, 90]) AS q_pct),
        est AS (
          SELECT q_pct, min(n) AS n,
                 min(vmin + (vmax - vmin + 1) * b // 64
                   + ((vmin + (vmax - vmin + 1) * (b + 1) // 64)
                      - (vmin + (vmax - vmin + 1) * b // 64))
                     * (r - (cum - cnt) - 1) // cnt) AS est
          FROM (
            SELECT q.q_pct, c.*, (c.n * q.q_pct + 99) // 100 AS r,
                   row_number() OVER (PARTITION BY q.q_pct ORDER BY c.b)
                     AS rn
            FROM qs q JOIN cum c ON c.cum >= (c.n * q.q_pct + 99) // 100)
          WHERE rn = 1 GROUP BY 1),
        byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
        vcum AS (
          SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS vc
          FROM byv),
        exact AS (
          SELECT q_pct, min(v) AS exact
          FROM qs q JOIN vcum c
            ON c.vc * 100 >= (SELECT max(vc) FROM vcum) * q.q_pct
          GROUP BY 1)
        SELECT CAST(e.q_pct AS BIGINT) AS q_pct, e.n, e.est, x.exact,
               abs(e.est - x.exact) * 10000 // x.exact AS err_bp
        FROM est e JOIN exact x ON e.q_pct = x.q_pct
        ORDER BY q_pct""")),

    // --------------------------------------------------------------- q509
    QDef("q509_convex_hull",
      (s, dir) => {
        import s.implicits._
        val cells = t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")),
            expr("c_nationkey = n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            expr("n_regionkey = r_regionkey"))
          .selectExpr("r_name AS region",
            "CAST((c_custkey * 37) % 1000 AS BIGINT) DIV 25 AS x",
            "CAST((c_custkey * 61) % 800 AS BIGINT) DIV 25 AS y")
          .distinct()
        cells.as[HullCell].groupByKey(_.region)
          .mapGroups { (r, it) =>
            val pts = it.map(c => (c.x, c.y)).toArray.sorted
            def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)) =
              (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
            def chain(ps: Iterator[(Long, Long)]) = {
              val st = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
              ps.foreach { p =>
                while (st.length >= 2 &&
                    cross(st(st.length - 2), st.last, p) <= 0)
                  st.remove(st.length - 1)
                st += p
              }
              st
            }
            val hull =
              if (pts.length <= 2) pts.toSeq
              else chain(pts.iterator).dropRight(1).toSeq ++
                chain(pts.reverseIterator).dropRight(1).toSeq
            val n = hull.length
            val area2 = (0 until n).map { i =>
              val (x1, y1) = hull(i); val (x2, y2) = hull((i + 1) % n)
              x1 * y2 - x2 * y1
            }.sum
            HullOut(r, pts.length.toLong, n.toLong, area2,
              hull.map(_._1).sum, hull.map(_._2).sum)
          }
          .toDF()
          .orderBy("region")
      },
      Some {
        // the monotone chain as a small-step machine: one recursive CTE
        // per half-hull, each step either pops the chain top (bad turn)
        // or pushes the next point; a sentinel row freezes the final
        // chain at i = -1. LIST-of-STRUCT state, ≤2n+1 steps per region.
        def machine(name: String) = s"""
        $name AS (
          SELECT region, 1 AS i,
                 CAST([] AS STRUCT(x BIGINT, y BIGINT)[]) AS chain
          FROM cnt
          UNION ALL
          SELECT region,
                 CASE WHEN sent THEN -1 WHEN pop THEN i ELSE i + 1 END,
                 CASE WHEN sent THEN chain
                      WHEN pop THEN chain[1:len(chain) - 1]
                      ELSE list_append(chain, {'x': px, 'y': py}) END
          FROM (
            SELECT m.region, m.i, m.chain, p.x AS px, p.y AS py, p.sent,
                   (NOT p.sent AND len(m.chain) >= 2 AND
                    (m.chain[len(m.chain)].x - m.chain[len(m.chain) - 1].x)
                      * (p.y - m.chain[len(m.chain) - 1].y)
                    - (m.chain[len(m.chain)].y - m.chain[len(m.chain) - 1].y)
                      * (p.x - m.chain[len(m.chain) - 1].x) <= 0) AS pop
            FROM $name m
            JOIN pts_$name p ON p.region = m.region AND p.rn = m.i))"""
        def ptsFor(name: String, dirSql: String) = s"""
        pts_$name AS (
          SELECT region, x, y, FALSE AS sent,
                 CAST(row_number() OVER (PARTITION BY region
                   ORDER BY $dirSql) AS INT) AS rn
          FROM cells
          UNION ALL
          SELECT region, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), TRUE,
                 CAST(n + 1 AS INT)
          FROM cnt)"""
        s"""
        WITH RECURSIVE cells AS (
          SELECT DISTINCT r.r_name AS region,
                 CAST((c.c_custkey * 37) % 1000 AS BIGINT) // 25 AS x,
                 CAST((c.c_custkey * 61) % 800 AS BIGINT) // 25 AS y
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey),
        cnt AS (SELECT region, CAST(count(*) AS BIGINT) AS n
                FROM cells GROUP BY 1),
        ${ptsFor("lo", "x ASC, y ASC")},
        ${ptsFor("hi", "x DESC, y DESC")},
        ${machine("lo")},
        ${machine("hi")},
        lofin AS (SELECT region, chain FROM lo WHERE i = -1),
        hifin AS (SELECT region, chain FROM hi WHERE i = -1),
        hull AS (
          SELECT c.region, c.n AS n_cells,
                 CASE WHEN c.n <= 2
                   THEN (SELECT list({'x': p.x, 'y': p.y} ORDER BY p.x, p.y)
                         FROM cells p WHERE p.region = c.region)
                   ELSE list_concat(l.chain[1:len(l.chain) - 1],
                                    h.chain[1:len(h.chain) - 1]) END AS hv
          FROM cnt c
          JOIN lofin l ON c.region = l.region
          JOIN hifin h ON c.region = h.region)
        SELECT region, n_cells,
               CAST(len(hv) AS BIGINT) AS hull_vertices,
               CAST(coalesce(list_sum(list_transform(
                 generate_series(1, len(hv)), i ->
                   hv[i].x * hv[(i % len(hv)) + 1].y
                 - hv[(i % len(hv)) + 1].x * hv[i].y)), 0) AS BIGINT)
                 AS hull_area2,
               CAST(coalesce(list_sum(list_transform(hv, v -> v.x)), 0)
                 AS BIGINT) AS sum_hx,
               CAST(coalesce(list_sum(list_transform(hv, v -> v.y)), 0)
                 AS BIGINT) AS sum_hy
        FROM hull ORDER BY region"""
      })
  )
}
