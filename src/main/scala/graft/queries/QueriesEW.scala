package graft.queries

import graft.Tables.t
import graft.functions.PortableHash
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 coverage additions, part 146 — mergeable statistics, storage
  * layout advice, monotone calibration, and MDM survivorship:
  *
  *  - q599: mergeable equi-depth quantile sketches: each nation builds
  *    a LOCAL 10-boundary sketch (the per-executor summary at 100 TB),
  *    sketches merge by boundary-mass union, merged estimates audited
  *    against exact global quantiles (err bp). The distributed-merge
  *    property q593's single histogram lacks.
  *  - q600: zone-map (min/max pruning) layout advisor: for each
  *    candidate sort key, simulate 256-row rowgroups (small constant so the simulation is meaningful at test SFs; the ratio story is size-free) at bucket
  *    granularity from the bounded key census and measure how many
  *    rowgroups a fixed day-range predicate prunes — the data-layout
  *    decision that dominates 100 TB scan cost.
  *  - q601: isotonic regression of return rate on price via the exact
  *    minimax formula iso(i) = max_{j≤i} min_{k≥j} wavg(y[j..k]) on
  *    the BOUNDED bucket domain (pairs join ≤ domain², never raw
  *    rows); invariant: zero violations after fit.
  *  - q602: survivorship (golden-record) merge: canonical-signature
  *    clusters, survivor chosen by the MDM cascade (longest text →
  *    lexicographic lang → smallest id) via two-phase argmax joins;
  *    per-source survivor/merged-away census.
  *
  * Scale shapes: q599/q600/q601 compute on bounded censuses after one
  * fact scan; q602 is hash-group + two broadcast-scale argmax joins.
  */
object QueriesEW extends QueryPack {
  import Q._

  def defs: Seq[QDef] = Seq(

    // --------------------------------------------------------------- q599
    QDef("q599_quantile_merge",
      (s, dir) => {
        val s2 = s
        import s2.implicits._
        val vals = t(s, dir, "orders")
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            expr("o_custkey = c_custkey"))
          .selectExpr("c_nationkey AS nk",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 100 AS v")
        // local sketch per nation: census → 10 equi-depth boundaries
        val census = vals.groupBy("nk", "v").agg(count(lit(1)).as("c"))
        // r12 DUAL PATH: the per-nation sketches, the merge, n, est AND
        // exact all derive from the (nk, v) census (|nations| × |distinct
        // prices|-bounded) — under the gate ONE census job replaces the
        // cache + count + 3 window passes + 4 crossJoin subtrees (~7
        // jobs). limit(gate+1) bounds driver memory without a count job.
        // NULLs: v and boundary sort ASC NULLS LAST, a boundary or
        // quantile in the null tail is NULL, and a NULL exact drops its
        // row (WHERE exact > 0).
        val gate = 2000000
        val censusRows = census.limit(gate + 1).collect()
        if (censusRows.length <= gate) {
          val rows = censusRows.map(r => (r.getAs[Number](0).longValue,
            optLong(r, 1), r.getLong(2))) // nk (int in parquet), v, c
          val ord = nullsLast(Ordering[Long])
          val n = rows.iterator.map(_._3).sum
          // per-nk equi-depth boundaries and masses (exact lag semantics)
          val sketch = rows.groupBy(_._1).iterator.flatMap { case (_, g) =>
            val gs = g.sortBy(_._2)(ord)
            val nn = gs.iterator.map(_._3).sum
            val cums = gs.scanLeft(0L)((acc, r) => acc + r._3).tail
            var prevCum = 0L
            (1L to 10L).flatMap { k =>
              val i = cums.indexWhere(cum => cum * 10 >= k * nn)
              if (i < 0) None else {
                val mass = cums(i) - prevCum
                prevCum = cums(i)
                Some((gs(i)._2, mass)) // (boundary, mass)
              }
            }
          }.toSeq
          val merged = sketch.groupMapReduce(_._1)(_._2)(_ + _)
            .toSeq.sortBy(_._1)(ord)
          val mcum = merged.scanLeft(0L)((acc, bm) => acc + bm._2).tail
          // exact global census: sum per v across nations
          val gc = rows.groupMapReduce(_._2)(_._3)(_ + _).toSeq.sortBy(_._1)(ord)
          val gcum = gc.scanLeft(0L)((acc, vc) => acc + vc._2).tail
          val out = Seq(50L, 90L, 99L).flatMap { p =>
            val ei = mcum.indexWhere(cum => cum * 100 >= p * n)
            val xi = gcum.indexWhere(cum => cum * 100 >= p * n)
            if (ei < 0 || xi < 0) None else {
              val est = merged(ei)._1
              gc(xi)._1.filter(_ > 0).map { exact =>
                (p, est, exact, est.map(e => (e - exact).abs * 10000 / exact))
              }
            }
          }
          out.toDF("p", "est", "exact", "err_bp")
        } else {
        census.cache(); census.count()
        val wn = Window.partitionBy("nk").orderBy(col("v").asc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = census.withColumn("cum", sum("c").over(wn).cast("long"))
        val ntot = census.groupBy("nk").agg(sum("c").cast("long").as("nn"))
        val ks = (1 to 10).map(_.toLong).toDF("k")
        val sketch = cum.join(ntot, "nk").crossJoin(broadcast(ks))
          .where(expr("cum * 10 >= k * nn"))
          .groupBy("nk", "k", "nn")
          .agg(min("v").as("boundary"), min("cum").cast("long").as("cum_at"))
          .withColumn("mass", expr(
            """cum_at - coalesce(lag(cum_at, 1) OVER (
                 PARTITION BY nk ORDER BY k), 0L)"""))
          .select("nk", "boundary", "mass")
        // merge: boundary-mass union → global estimate
        val merged = sketch.groupBy("boundary")
          .agg(sum("mass").cast("long").as("m"))
        val wg = Window.orderBy(col("boundary").asc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mcum = merged.withColumn("cum", sum("m").over(wg).cast("long"))
        val gn = vals.agg(count(lit(1)).as("n"))
        val ps = Seq(50L, 90L, 99L).toDF("p")
        val est = mcum.crossJoin(broadcast(gn)).crossJoin(broadcast(ps))
          .where(expr("cum * 100 >= p * n"))
          .groupBy("p").agg(min("boundary").as("est"))
        // exact global quantiles from the full census
        val gcensus = vals.groupBy("v").agg(count(lit(1)).as("c"))
        val gcum = gcensus.withColumn("cum", sum("c").over(
          Window.orderBy(col("v").asc_nulls_last).rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("long"))
        val exact = gcum.crossJoin(broadcast(gn)).crossJoin(broadcast(ps))
          .where(expr("cum * 100 >= p * n"))
          .groupBy("p").agg(min("v").as("exact"))
        est.join(exact, "p")
          .where(expr("exact > 0"))
          .selectExpr("p", "est", "exact",
            "abs(est - exact) * 10000 DIV exact AS err_bp")
          .orderBy("p")
        }
      },
      Some("""
        WITH vals AS (
          SELECT c.c_nationkey AS nk,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS v
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        census AS (
          SELECT nk, v, CAST(count(*) AS BIGINT) AS c
          FROM vals GROUP BY 1, 2),
        cum AS (
          SELECT nk, v, c,
                 CAST(sum(c) OVER (PARTITION BY nk ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM census),
        ntot AS (SELECT nk, CAST(sum(c) AS BIGINT) AS nn
                 FROM census GROUP BY 1),
        ks AS (SELECT unnest(range(1, 11)) AS k),
        sk0 AS (
          SELECT cum.nk, ks.k, min(cum.v) AS boundary,
                 CAST(min(cum.cum) AS BIGINT) AS cum_at
          FROM cum JOIN ntot ON cum.nk = ntot.nk, ks
          WHERE cum.cum * 10 >= ks.k * ntot.nn
          GROUP BY 1, 2),
        sketch AS (
          SELECT nk, boundary,
                 cum_at - coalesce(lag(cum_at) OVER (
                   PARTITION BY nk ORDER BY k), 0) AS mass
          FROM sk0),
        merged AS (
          SELECT boundary, CAST(sum(mass) AS BIGINT) AS m
          FROM sketch GROUP BY 1),
        mcum AS (
          SELECT boundary, CAST(sum(m) OVER (ORDER BY boundary
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM merged),
        gn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
        ps AS (SELECT unnest([50, 90, 99]) AS p),
        est AS (
          SELECT p, min(boundary) AS est
          FROM mcum, gn, ps WHERE cum * 100 >= p * n GROUP BY 1),
        gcum AS (
          SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum
          FROM (SELECT v, CAST(count(*) AS BIGINT) AS c
                FROM vals GROUP BY 1)),
        ex AS (
          SELECT p, min(v) AS exact
          FROM gcum, gn, ps WHERE cum * 100 >= p * n GROUP BY 1)
        SELECT CAST(e.p AS BIGINT) AS p, e.est, x.exact,
               abs(e.est - x.exact) * 10000 // x.exact AS err_bp
        FROM est e JOIN ex x ON e.p = x.p
        WHERE x.exact > 0 ORDER BY p""")),

    // --------------------------------------------------------------- q600
    QDef("q600_zonemap_advisor",
      (s, dir) => {
        val rows = t(s, dir, "orders")
          .selectExpr(
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000 AS day",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 100 AS dollars",
            "o_custkey % 1024 AS ckb")
        def advise(key: String, name: String) = {
          val census = rows.groupBy(expr(key).as("kb"))
            .agg(count(lit(1)).as("c"),
              min("day").cast("long").as("mind"),
              max("day").cast("long").as("maxd"))
          val wc = Window.orderBy("kb")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          census
            .withColumn("cum", sum("c").over(wc).cast("long"))
            // rowgroup of the bucket's FIRST row (bucket granularity;
            // 256-row groups keep the simulation meaningful at test SFs)
            .selectExpr("(cum - c) DIV 256 AS rg", "mind", "maxd", "c")
            .groupBy("rg").agg(
              min("mind").cast("long").as("lo"),
              max("maxd").cast("long").as("hi"),
              sum("c").cast("long").as("cnt"))
            .selectExpr(s"'$name' AS sort_key",
              "CASE WHEN hi < 9131 OR lo >= 9221 THEN 1L ELSE 0L END AS pruned",
              "CASE WHEN hi < 9131 OR lo >= 9221 THEN cnt ELSE 0L END AS skipped",
              "cnt")
            .groupBy("sort_key").agg(
              count(lit(1)).as("n_groups"),
              sum("pruned").cast("long").as("pruned_groups"),
              sum("skipped").cast("long").as("sk"),
              sum("cnt").cast("long").as("tot"))
            .selectExpr("sort_key", "n_groups", "pruned_groups",
              "sk * 10000 DIV tot AS rows_skipped_bp")
        }
        advise("day", "by_day")
          .unionByName(advise("dollars", "by_price"))
          .unionByName(advise("ckb", "by_custbucket"))
          .orderBy(col("rows_skipped_bp").desc, col("sort_key"))
      },
      Some("""
        WITH rows_ AS (
          SELECT epoch_ms(o_orderdate) // 86400000 AS day,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100
                   AS dollars,
                 o_custkey % 1024 AS ckb
          FROM orders),
        u AS (
          SELECT 'by_day' AS sort_key, day AS kb, day FROM rows_
          UNION ALL SELECT 'by_price', dollars, day FROM rows_
          UNION ALL SELECT 'by_custbucket', ckb, day FROM rows_),
        census AS (
          SELECT sort_key, kb, CAST(count(*) AS BIGINT) AS c,
                 CAST(min(day) AS BIGINT) AS mind,
                 CAST(max(day) AS BIGINT) AS maxd
          FROM u GROUP BY 1, 2),
        rgs AS (
          SELECT sort_key,
                 (CAST(sum(c) OVER (PARTITION BY sort_key ORDER BY kb
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) - c) // 256 AS rg,
                 mind, maxd, c
          FROM census),
        zone AS (
          SELECT sort_key, rg, CAST(min(mind) AS BIGINT) AS lo,
                 CAST(max(maxd) AS BIGINT) AS hi,
                 CAST(sum(c) AS BIGINT) AS cnt
          FROM rgs GROUP BY 1, 2)
        SELECT sort_key, CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN hi < 9131 OR lo >= 9221 THEN 1 ELSE 0 END)
                 AS BIGINT) AS pruned_groups,
               CAST(sum(CASE WHEN hi < 9131 OR lo >= 9221 THEN cnt ELSE 0 END)
                 * 10000 // sum(cnt) AS BIGINT) AS rows_skipped_bp
        FROM zone GROUP BY 1
        ORDER BY rows_skipped_bp DESC, sort_key""")),

    // --------------------------------------------------------------- q601
    QDef("q601_isotonic_minimax",
      (s, dir) => {
        val buckets = t(s, dir, "lineitem")
          .selectExpr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) DIV 100 DIV 1000 AS b",
            "CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END AS y")
          .groupBy("b").agg(count(lit(1)).as("n"),
            sum("y").cast("long").as("x"))
        buckets.cache(); buckets.count()
        val wb = Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pre = buckets
          .withColumn("cn", sum("n").over(wb).cast("long"))
          .withColumn("cx", sum("x").over(wb).cast("long"))
          .selectExpr("b", "n", "x", "cn", "cx",
            "cn - n AS pn", "cx - x AS px")
        // minAvg(j) = min over k ≥ j of wavg(j..k); pairs bounded by
        // the bucket-domain², never raw rows
        val pj = pre.selectExpr("b AS j", "pn AS pnj", "px AS pxj")
        val pk = pre.selectExpr("b AS k", "cn AS cnk", "cx AS cxk")
        val minAvg = pj.join(pk, expr("k >= j"))
          .selectExpr("j",
            "(cxk - pxj) * 1000000 DIV (cnk - pnj) AS avg_micro")
          .groupBy("j").agg(min("avg_micro").cast("long").as("mn"))
        val iso = pre.selectExpr("b AS i", "n", "x").alias("l")
          .join(minAvg.alias("r"), expr("r.j <= l.i"))
          .groupBy("i", "n", "x").agg(max("mn").cast("long").as("iso_ppm"))
          .selectExpr("i", "n", "x * 1000000 DIV n AS raw_ppm", "iso_ppm")
        val w1 = Window.orderBy("i")
        iso
          .withColumn("prev_iso", lag("iso_ppm", 1).over(w1))
          .withColumn("prev_raw", lag("raw_ppm", 1).over(w1))
          .agg(count(lit(1)).as("n_buckets"),
            sum(when(col("prev_raw") > col("raw_ppm"), 1L).otherwise(0L))
              .cast("long").as("viol_before"),
            sum(when(col("prev_iso") > col("iso_ppm"), 1L).otherwise(0L))
              .cast("long").as("viol_after"),
            min("iso_ppm").cast("long").as("iso_min"),
            max("iso_ppm").cast("long").as("iso_max"),
            expr("""CAST(floor(CAST(sum(abs(iso_ppm - raw_ppm)) AS DOUBLE)
              / count(1)) AS BIGINT)""").as("mean_abs_adjust_ppm"))
      },
      Some("""
        WITH buckets AS (
          SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   // 100 // 1000 AS b,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x
          FROM lineitem GROUP BY 1),
        pre AS (
          SELECT b, n, x,
                 CAST(sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cn,
                 CAST(sum(x) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cx
          FROM buckets),
        pre2 AS (SELECT b, n, x, cn, cx, cn - n AS pn, cx - x AS px
                 FROM pre),
        minavg AS (
          SELECT j.b AS j,
                 CAST(min((k.cx - j.px) * 1000000 // (k.cn - j.pn))
                   AS BIGINT) AS mn
          FROM pre2 j JOIN pre2 k ON k.b >= j.b
          GROUP BY 1),
        iso AS (
          SELECT l.b AS i, l.n, l.x * 1000000 // l.n AS raw_ppm,
                 CAST(max(r.mn) AS BIGINT) AS iso_ppm
          FROM pre2 l JOIN minavg r ON r.j <= l.b
          GROUP BY 1, 2, 3),
        fin AS (
          SELECT i, raw_ppm, iso_ppm,
                 lag(iso_ppm) OVER (ORDER BY i) AS prev_iso,
                 lag(raw_ppm) OVER (ORDER BY i) AS prev_raw
          FROM iso)
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(CASE WHEN prev_raw > raw_ppm THEN 1 ELSE 0 END)
                 AS BIGINT) AS viol_before,
               CAST(sum(CASE WHEN prev_iso > iso_ppm THEN 1 ELSE 0 END)
                 AS BIGINT) AS viol_after,
               CAST(min(iso_ppm) AS BIGINT) AS iso_min,
               CAST(max(iso_ppm) AS BIGINT) AS iso_max,
               CAST(floor(CAST(sum(abs(iso_ppm - raw_ppm)) AS DOUBLE)
                 / count(*)) AS BIGINT) AS mean_abs_adjust_ppm
        FROM fin""")),

    // --------------------------------------------------------------- q602
    QDef("q602_survivorship",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .where(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("lang"),
            length(col("text")).as("len"),
            PortableHash.md5Long(lower(trim(col("text")))).as("sig"))
        docs.cache(); docs.count()
        // survivor cascade: longest text → lexicographic-min lang →
        // smallest doc_id (two-phase argmax keeps mixed directions exact)
        val bestLen = docs.groupBy("sig").agg(max("len").as("mlen"))
        val p1 = docs.join(bestLen, "sig").where(col("len") === col("mlen"))
        val bestLang = p1.groupBy("sig").agg(min("lang").as("mlang"))
        val p2 = p1.join(bestLang, "sig").where(col("lang") === col("mlang"))
        val survivor = p2.groupBy("sig").agg(min("doc_id").as("sdoc"))
        docs.join(survivor, "sig")
          .selectExpr("source",
            "CASE WHEN doc_id = sdoc THEN 1L ELSE 0L END AS surv")
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum("surv").cast("long").as("n_survivors"),
            (count(lit(1)) - sum("surv")).cast("long").as("n_merged_away"))
          .orderBy("source")
      },
      Some(s"""
        WITH docs AS (
          SELECT doc_id, source, lang, length(text) AS len,
                 ${PortableHash.md5LongSql("lower(trim(text))")} AS sig
          FROM documents WHERE text IS NOT NULL),
        bestlen AS (SELECT sig, max(len) AS mlen FROM docs GROUP BY 1),
        p1 AS (
          SELECT d.* FROM docs d JOIN bestlen b
          ON d.sig = b.sig AND d.len = b.mlen),
        bestlang AS (SELECT sig, min(lang) AS mlang FROM p1 GROUP BY 1),
        p2 AS (
          SELECT p1.* FROM p1 JOIN bestlang b
          ON p1.sig = b.sig AND p1.lang = b.mlang),
        survivor AS (SELECT sig, min(doc_id) AS sdoc FROM p2 GROUP BY 1)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN d.doc_id = s.sdoc THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_survivors,
               CAST(sum(CASE WHEN d.doc_id = s.sdoc THEN 0 ELSE 1 END)
                 AS BIGINT) AS n_merged_away
        FROM docs d JOIN survivor s ON d.sig = s.sig
        GROUP BY 1 ORDER BY 1"""))
  )
}
