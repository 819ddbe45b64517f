package graft.queries

import graft.Tables.t
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 coverage additions, part 55 — audience composition, rank
  * migration, overdispersion, corpus novelty:
  *
  *  - q246: new-vs-returning mix — per day, events from users first
  *    seen that day vs returning users (share bp). First-seen day is
  *    ONE min-aggregate joined back — never a cumulative-distinct scan.
  *  - q247: decile migration matrix — customers ranked into revenue
  *    deciles over the first and second half of the order timeline
  *    (fixed midpoint), transition counts (pre → post, 'out' for
  *    customers absent in a half). The rank-stability report behind
  *    q234's static deciles.
  *  - q248: burstiness (Fano factor) — variance-to-mean of daily
  *    counts per type in exact milli via the cross-multiplied identity
  *    F = (n·S2 − S1²) / (n·S1): >1000 means clumpier than Poisson.
  *    The overdispersion gate that tells whether q219's 3σ band is
  *    even the right model.
  *  - q249: corpus novelty curve — each distinct word-trigram is
  *    attributed to the decile of the doc (by doc_id ntile) where it
  *    FIRST appears: new-trigram counts + cumulative share bp per
  *    decile. The diminishing-returns curve that says when more of the
  *    same source stops adding vocabulary (q217's rare-coverage,
  *    integrated over acquisition order).
  *
  * Reference analog: new-vs-returning = newly-discovered vs re-scraped
  * listings per day; decile migration = listing-revenue rank churn
  * between survey epochs; burstiness = harvest-volume clumpiness;
  * novelty curve = new-content yield per additional scrape pass.
  */
object QueriesBJ extends QueryPack {
  import Q._

  def defs: Seq[QDef] = Seq(

    // --------------------------------------------------------------- q246
    QDef("q246_new_vs_returning",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .selectExpr("user_id", s"($tsMs) DIV 86400000 AS day")
        val firstSeen = ev.groupBy("user_id").agg(min("day").as("first_day"))
        ev.join(firstSeen, "user_id")
          .selectExpr("day",
            "CASE WHEN day = first_day THEN 1 ELSE 0 END AS is_new")
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum("is_new").cast("bigint").as("n_new"))
          .withColumn("new_share_bp", expr("n_new * 10000 DIV n_events"))
          .orderBy("day")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        fs AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1)
        SELECT ev.day, count(*) AS n_events,
               CAST(sum(CASE WHEN ev.day = fs.first_day THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new,
               CAST(sum(CASE WHEN ev.day = fs.first_day THEN 1 ELSE 0 END) AS BIGINT)
                 * 10000 // count(*) AS new_share_bp
        FROM ev JOIN fs ON ev.user_id = fs.user_id
        GROUP BY 1 ORDER BY day""")),

    // --------------------------------------------------------------- q247
    QDef("q247_decile_migration",
      (s, dir) => {
        val midMs = millisOf("1998-01-01 00:00:00")
        def revHalf(post: Boolean) = {
          val f = if (post) s"ord_ms >= ${midMs}L" else s"ord_ms < ${midMs}L"
          t(s, dir, "orders")
            .selectExpr("o_custkey",
              "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS ord_ms",
              "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
            .where(expr(f))
            .groupBy("o_custkey").agg(sum("cents").cast("bigint").as("rev"))
        }
        // r12 DUAL PATH: both decile maps and the ≤11×11 migration grid
        // derive from the per-(cust, half) revenue census, |custs|-bounded
        // — one census job instead of two two-phase ScaleRank ntile
        // passes + a full join (~8 jobs). limit(gate+1) bounds driver
        // memory without a count job; past the gate, frames fallback.
        // NULLs: a customer whose orders in a half all lack a price has
        // a NULL rev there; ntile ranks it by rev DESC NULLS LAST, o_custkey.
        val gate = 2000000
        val rows = t(s, dir, "orders")
          .selectExpr("o_custkey",
            s"CASE WHEN unix_millis(CAST(o_orderdate AS TIMESTAMP)) < ${midMs}L THEN 0 ELSE 1 END AS half",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
          .groupBy("o_custkey", "half")
          .agg(sum("cents").cast("bigint").as("rev"))
          .limit(gate + 1).collect()
        if (rows.length <= gate) {
          val sc2 = s
          import sc2.implicits._
          // exact SQL ntile(10): first n % 10 buckets get one extra row
          def decileMap(half: Int): Map[Long, Long] = {
            val xs = rows.iterator.filter(_.getInt(1) == half)
              .map(r => (r.getLong(0), optLong(r, 2))).toArray
            val sorted = xs.sortBy { case (cust, rev) => (rev, cust) }(
              Ordering.Tuple2(nullsLast(Ordering[Long].reverse), Ordering[Long]))
            val n = sorted.length.toLong
            val size = n / 10; val rem = n % 10; val cut = rem * (size + 1)
            sorted.iterator.zipWithIndex.map { case ((cust, _), k) =>
              val rn = k + 1L
              val tile = if (rn <= cut) (rn - 1) / (size + 1) + 1
                         else rem + (rn - cut - 1) / size + 1
              cust -> tile
            }.toMap
          }
          val pre = decileMap(0); val post = decileMap(1)
          (pre.keySet ++ post.keySet).iterator
            .map(c => (pre.getOrElse(c, 0L), post.getOrElse(c, 0L)))
            .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
            .toSeq.map { case ((p, q), c) => (p, q, c) }
            .sortBy { case (p, q, _) => (p, q) }
            .toDF("pre_decile", "post_decile", "n_customers")
        } else {
        def deciles(post: Boolean) =
          graft.operators.ScaleRank.withGlobalNtile(revHalf(post),
            Seq(col("rev").desc, col("o_custkey")), 10, "decile")
        val pre = deciles(post = false)
          .select(col("o_custkey"), col("decile").as("pre_decile"))
        val post = deciles(post = true)
          .select(col("o_custkey"), col("decile").as("post_decile"))
        pre.join(post, Seq("o_custkey"), "full")
          .selectExpr(
            "CAST(coalesce(pre_decile, 0) AS BIGINT) AS pre_decile",
            "CAST(coalesce(post_decile, 0) AS BIGINT) AS post_decile")
          .groupBy("pre_decile", "post_decile")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("pre_decile", "post_decile")
        }
      },
      Some("""
        WITH rev AS (
          SELECT o_custkey,
                 CASE WHEN epoch_ms(o_orderdate) < 883612800000 THEN 0 ELSE 1 END AS half,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
          FROM orders GROUP BY 1, 2),
        pre AS (
          SELECT o_custkey, ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS pre_decile
          FROM rev WHERE half = 0),
        post AS (
          SELECT o_custkey, ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS post_decile
          FROM rev WHERE half = 1)
        SELECT CAST(COALESCE(pre.pre_decile, 0) AS BIGINT) AS pre_decile,
               CAST(COALESCE(post.post_decile, 0) AS BIGINT) AS post_decile,
               count(*) AS n_customers
        FROM pre FULL JOIN post ON pre.o_custkey = post.o_custkey
        GROUP BY 1, 2 ORDER BY pre_decile, post_decile""")),

    // --------------------------------------------------------------- q248
    QDef("q248_burstiness",
      (s, dir) => {
        t(s, dir, "events")
          .selectExpr("event_type", s"($tsMs) DIV 86400000 AS day")
          .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sum("y").cast("bigint").as("s1"),
            sum(col("y") * col("y")).cast("bigint").as("s2"))
          .selectExpr("event_type", "n_days", "s1 AS total",
            "(n_days * s2 - s1 * s1) * 1000 DIV (n_days * s1) AS fano_milli")
          .orderBy("event_type")
      },
      Some("""
        WITH d AS (
          SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS y
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT event_type, count(*) AS n_days,
                 CAST(sum(y) AS BIGINT) AS s1, CAST(sum(y * y) AS BIGINT) AS s2
          FROM d GROUP BY 1)
        SELECT event_type, n_days, s1 AS total,
               (n_days * s2 - s1 * s1) * 1000 // (n_days * s1) AS fano_milli
        FROM st ORDER BY event_type""")),

    // --------------------------------------------------------------- q249
    QDef("q249_novelty_curve",
      (s, dir) => {
        val docDecile = graft.operators.ScaleRank.withGlobalNtile(
          t(s, dir, "documents").select(col("doc_id")),
          Seq(col("doc_id")), 10, "decile")
        val firstDoc = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .where(size(col("ws")) >= 3)
          .select(col("doc_id"),
            explode(expr("sequence(1, size(ws) - 2)")).as("i"), col("ws"))
          .select(col("doc_id"), expr("concat_ws(' ', slice(ws, i, 3))").as("sh"))
          .groupBy("sh").agg(min("doc_id").as("doc_id"))
        val perDecile = firstDoc.join(docDecile, "doc_id")
          .groupBy("decile").agg(count(lit(1)).as("n_new"))
        val tot = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val cum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perDecile
          .withColumn("cum_new", sum("n_new").over(cum))
          .withColumn("total", sum("n_new").over(tot))
          .selectExpr("CAST(decile AS BIGINT) AS decile", "n_new",
            "cum_new * 10000 DIV total AS cum_share_bp")
          .orderBy("decile")
      },
      Some("""
        WITH dd AS (
          SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile
          FROM documents),
        w AS (
          SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents WHERE len(string_split(text, ' ')) >= 3),
        idx AS (
          SELECT doc_id, ws,
                 unnest(generate_series(1, CAST(len(ws) - 2 AS BIGINT))) AS i
          FROM w),
        fd AS (
          SELECT array_to_string(ws[i:i+2], ' ') AS sh, min(doc_id) AS doc_id
          FROM idx GROUP BY 1),
        pd AS (
          SELECT dd.decile, count(*) AS n_new
          FROM fd JOIN dd ON fd.doc_id = dd.doc_id
          GROUP BY 1)
        SELECT CAST(decile AS BIGINT) AS decile, n_new,
               CAST(sum(n_new) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 * 10000 // CAST(sum(n_new) OVER () AS BIGINT) AS cum_share_bp
        FROM pd ORDER BY decile"""))
  )
}
