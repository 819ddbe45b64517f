package graft.queries

import graft.Tables.t
import graft.functions.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 coverage additions, part 151 — optimizer feedback, storage
  * encoding choice, behavioral bias, and ANN parameter sweeps:
  *
  *  - q617: selectivity-feedback audit: estimate range-predicate
  *    selectivity from a 10-bucket equi-depth histogram (full buckets
  *    count 10%, edge buckets 5% — pure integer) and compare against
  *    the true row count per predicate; the error feedback loop a
  *    cost-based optimizer runs at 100 TB (q550/q138's scan-side
  *    sibling).
  *  - q618: columnar encoding advisor: per numeric column, ndv, runs
  *    within the natural write cluster (orderkey — run-length never
  *    needs a global sort), and max−min bit width pick RLE / dict /
  *    FOR-bitpack / plain by integer rules — the layout decision that
  *    dominates 100 TB scan bytes (composes q353/q391/q324's codecs
  *    into a decision).
  *  - q619: position-bias curve: 30-min-gap sessions, event index in
  *    session (per-key window), per-position view→click/purchase
  *    rates — the bias curve ranking evaluation must normalize by.
  *  - q620: IVF nprobe sweep: recall@5 vs brute-force ground truth for
  *    nprobe ∈ {1, 2, 4} — the accuracy/cost frontier that sizes an
  *    ANN deployment (q42 probes one point; this draws the curve).
  *
  * Scale shapes: q617 is one value-census shuffle + broadcast bounds;
  * q618 is per-cluster windows then one agg per column; q619 per-key
  * windows then a ≤10-row census; q620 is bucket-scoped brute force
  * with the query side broadcast, ×3 nprobe settings.
  */
object QueriesFB extends QueryPack {
  import Q._

  def defs: Seq[QDef] = Seq(

    // --------------------------------------------------------------- q617
    QDef("q617_selectivity_feedback",
      (s, dir) => {
        val vals = t(s, dir, "lineitem")
          .selectExpr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v")
        // DUAL PATH (r11, the q457/q225 recipe): every output — equi-depth
        // boundaries, the 5 range predicates, estimator AND the actual
        // row counts — is derivable from the distinct-value census (the
        // r10 plan cached ALL lineitem rows and crossJoined them against
        // the 5 predicates for `act`). When the census fits the driver
        // gate, one aggregation job replaces the cache + 4 downstream
        // jobs; the frames below stay as the scale fallback.
        // limit(gate+1) bounds what the driver ever holds (r11 advice:
        // the old collect-then-check already materialized an oversized
        // census before the gate could reject it); past the gate the
        // truncated rows are discarded and the frames fallback runs.
        val censusRows = vals.groupBy("v")
          .agg(count(lit(1)).cast("long").as("c"))
          .limit(2000001)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        if (censusRows.length <= 2000000) {
          val sc2 = s
          import sc2.implicits._
          if (censusRows.isEmpty)
            Seq.empty[(Long, Long, Long, Long)]
              .toDF("pid", "est_rows", "act_rows", "err_bp")
          else {
            val n = censusRows.map(_._2).sum
            val lo = censusRows.head._1
            val hi = censusRows.last._1
            // b_k = min v with cum ≥ ceil(k·n/10), k = 1..9
            val cums = censusRows.scanLeft(0L)(_ + _._2).tail
            val bounds = (1L to 9L).flatMap { k =>
              val i = cums.indexWhere(cum => cum * 10 >= k * n)
              if (i < 0) None else Some(censusRows(i)._1)
            }
            (0L until 5L).map { pid =>
              val plo = lo + (hi - lo) * pid / 8
              val phi = lo + (hi - lo) * (pid + 2) / 8
              val nb = bounds.count(b => b >= plo && b < phi).toLong
              val est = n * nb / 10
              val act = censusRows.iterator
                .filter { case (v, _) => v >= plo && v < phi }
                .map(_._2).sum
              val err = if (act > 0) (est - act).abs * 10000 / act else -1L
              (pid, est, act, err)
            }.toDF("pid", "est_rows", "act_rows", "err_bp")
          }
        } else {
        vals.cache(); vals.count() // eager: histogram + 5 predicate probes
        val census = vals.groupBy("v").agg(count(lit(1)).as("c"))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = census.agg(sum("c").cast("long").as("n"),
          min("v").as("lo"), max("v").as("hi"))
        val s2 = s
        import s2.implicits._
        val ks = (1 to 9).map(_.toLong).toDF("k")
        // equi-depth boundaries: b_k = min v with cum ≥ ceil(k·n/10)
        val bounds = census.withColumn("cum", sum("c").over(w).cast("long"))
          .crossJoin(broadcast(tot)).crossJoin(broadcast(ks))
          .where(expr("cum * 10 >= k * n"))
          .groupBy("k").agg(min("v").as("b"))
        // predicates: 5 ranges [lo + p·span/8, lo + (p+2)·span/8)
        val preds = (0 until 5).map(_.toLong).toDF("pid")
          .crossJoin(broadcast(tot))
          .selectExpr("pid", "n",
            "lo + (hi - lo) * pid DIV 8 AS plo",
            "lo + (hi - lo) * (pid + 2) DIV 8 AS phi")
        // estimator: each of the 10 equi-depth buckets contributes 10%
        // if both its bounding boundaries fall inside the range, 5% if
        // exactly one does (edge bucket) — integer-only
        val est = preds.crossJoin(broadcast(bounds))
          .groupBy("pid", "n", "plo", "phi")
          .agg(sum(when(col("b") >= col("plo") && col("b") < col("phi"), 1L)
            .otherwise(0L)).as("nb"))
          // nb boundaries inside ⇒ (nb+1) buckets touched: (nb−1) full
          // + 2 half ⇒ est share = nb/10 exactly
          .selectExpr("pid", "plo", "phi", "n * nb DIV 10 AS est_rows")
        val act = preds.join(vals.crossJoin(broadcast(preds.select("pid", "plo", "phi")
              .withColumnRenamed("pid", "pid2")))
            .where(col("v") >= col("plo") && col("v") < col("phi"))
            .groupBy(col("pid2").as("pid")).agg(count(lit(1)).cast("long").as("act_rows")),
          Seq("pid"), "left")
          .selectExpr("pid", "coalesce(act_rows, 0L) AS act_rows")
        est.join(act, Seq("pid"))
          .selectExpr("pid", "est_rows", "act_rows",
            """CASE WHEN act_rows > 0
               THEN abs(est_rows - act_rows) * 10000 DIV act_rows
               ELSE -1 END AS err_bp""")
          .orderBy("pid")
        }
      },
      Some("""
        WITH vals AS (
          SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
          FROM lineitem),
        census AS (SELECT v, count(*) AS c FROM vals GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, min(v) AS lo, max(v) AS hi
                FROM census),
        cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum FROM census),
        bounds AS (
          SELECT k, min(v) AS b
          FROM cum, tot, range(1, 10) r(k)
          WHERE cum * 10 >= k * n GROUP BY 1),
        preds AS (
          SELECT pid, n,
                 lo + (hi - lo) * pid // 8 AS plo,
                 lo + (hi - lo) * (pid + 2) // 8 AS phi
          FROM range(0, 5) r(pid), tot),
        est AS (
          SELECT p.pid, p.plo, p.phi,
                 p.n * sum(CASE WHEN b.b >= p.plo AND b.b < p.phi
                   THEN 1 ELSE 0 END) // 10 AS est_rows
          FROM preds p, bounds b GROUP BY 1, 2, 3, p.n),
        act AS (
          SELECT p.pid, CAST(count(*) AS BIGINT) AS act_rows
          FROM preds p JOIN vals v ON v.v >= p.plo AND v.v < p.phi
          GROUP BY 1)
        SELECT e.pid, CAST(e.est_rows AS BIGINT) AS est_rows,
               coalesce(a.act_rows, 0) AS act_rows,
               CAST(CASE WHEN coalesce(a.act_rows, 0) > 0
                 THEN abs(e.est_rows - a.act_rows) * 10000 // a.act_rows
                 ELSE -1 END AS BIGINT) AS err_bp
        FROM est e LEFT JOIN act a ON e.pid = a.pid
        ORDER BY e.pid""")),

    // --------------------------------------------------------------- q618
    QDef("q618_encoding_advisor",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val cols = Seq(
          ("l_quantity", "CAST(l_quantity AS BIGINT)"),
          ("l_suppkey", "CAST(l_suppkey AS BIGINT)"),
          ("l_linenumber", "CAST(l_linenumber AS BIGINT)"),
          ("l_extendedprice", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        val stats = cols.map { case (name, e) =>
          val v = li.selectExpr("l_orderkey", "l_linenumber", s"$e AS v")
          // (l_orderkey, l_linenumber) is not unique in this generator —
          // order ties by the value itself so the run census is
          // deterministic in both engines
          val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "v")
          val runs = v
            .withColumn("chg",
              when(lag("v", 1).over(w).isNull ||
                lag("v", 1).over(w) =!= col("v"), 1L).otherwise(0L))
            .agg(count(lit(1)).cast("long").as("n"),
              sum("chg").cast("long").as("n_runs"),
              countDistinct("v").cast("long").as("ndv"),
              min("v").as("mn"), max("v").as("mx"))
          runs.selectExpr(s"'$name' AS col_name", "n", "ndv", "n_runs",
            "CAST(length(bin(mx - mn)) AS BIGINT) AS width_bits")
        }.reduce(_ unionByName _)
        stats.selectExpr("col_name", "n", "ndv", "n_runs", "width_bits",
            """CASE WHEN n >= n_runs * 3 THEN 'rle'
                    WHEN ndv * 100 <= n THEN 'dict'
                    WHEN width_bits <= 16 THEN 'for_bitpack'
                    ELSE 'plain' END AS encoding""")
          .orderBy("col_name")
      },
      Some {
        val cols = Seq(
          ("l_quantity", "CAST(l_quantity AS BIGINT)"),
          ("l_suppkey", "CAST(l_suppkey AS BIGINT)"),
          ("l_linenumber", "CAST(l_linenumber AS BIGINT)"),
          ("l_extendedprice", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        val subs = cols.map { case (name, e) =>
          s"""
          SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT v) AS BIGINT) AS ndv,
                 CAST(sum(chg) AS BIGINT) AS n_runs,
                 CAST(length(bin(max(v) - min(v))) AS BIGINT) AS width_bits
          FROM (
            SELECT v, CASE WHEN lag(v) OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, v) IS DISTINCT FROM v
                   THEN 1 ELSE 0 END AS chg
            FROM (SELECT l_orderkey, l_linenumber, $e AS v FROM lineitem))"""
        }.mkString(" UNION ALL ")
        s"""
        WITH stats AS ($subs)
        SELECT col_name, n, ndv, n_runs, width_bits,
               CASE WHEN n >= n_runs * 3 THEN 'rle'
                    WHEN ndv * 100 <= n THEN 'dict'
                    WHEN width_bits <= 16 THEN 'for_bitpack'
                    ELSE 'plain' END AS encoding
        FROM stats ORDER BY col_name"""
      }),

    // --------------------------------------------------------------- q619
    QDef("q619_position_bias",
      (s, dir) => {
        val gapMs = 30L * 60000L
        val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
        val ev = t(s, dir, "events")
          .selectExpr("user_id", s"$tsMs AS ms", "event_id", "event_type")
          .withColumn("prev", lag("ms", 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull || col("ms") - col("prev") > gapMs, 1L)
              .otherwise(0L))
          .withColumn("sess", sum("brk").over(
            Window.partitionBy("user_id").orderBy("ms", "event_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val pos = ev.withColumn("pos", row_number().over(
            Window.partitionBy("user_id", "sess").orderBy("ms", "event_id")))
          .where(col("pos") <= 10)
        pos.withColumn("pos", col("pos").cast("long"))
          .groupBy("pos").agg(
            count(lit(1)).cast("long").as("n_events"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .cast("long").as("n_clicks"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .cast("long").as("n_purchases"))
          .selectExpr("pos", "n_events", "n_clicks", "n_purchases",
            "n_clicks * 10000 DIV n_events AS click_bp",
            "n_purchases * 10000 DIV n_events AS purchase_bp")
          .orderBy("pos")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
                 lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                   ORDER BY epoch_ms(ts), event_id) AS prev
          FROM events),
        brk AS (
          SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000
                     THEN 1 ELSE 0 END AS brk
          FROM ev),
        sess AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id
                   ORDER BY ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM brk),
        pos AS (
          SELECT event_type, row_number() OVER (PARTITION BY user_id, sess
                   ORDER BY ms, event_id) AS pos
          FROM sess)
        SELECT pos, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_clicks,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_purchases,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) * 10000 // count(*) AS click_bp,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) * 10000 // count(*) AS purchase_bp
        FROM pos WHERE pos <= 10
        GROUP BY 1 ORDER BY 1""")),

    // --------------------------------------------------------------- q620
    QDef("q620_ivf_nprobe_sweep",
      (s, dir) => {
        val K = 5; val NQ = 8; val SeedMod = 100
        // r12 DUAL PATH: the whole sweep — assignment, ground truth, cell
        // ranking, 3 probe settings — re-reads the same small vector set,
        // and the frames form costs ~37 jobs (4 cache+count pins, window
        // per stage). Under the gate ONE collect replaces them, with the
        // EXACT frame float semantics: FloatVecDot's left-to-right
        // (double)a[i]·(double)b[i] fold, Spark round() = BigDecimal
        // HALF_UP on the shortest repr, cosine6Out's +0.0 signed-zero
        // normalization, NaN-greatest double ordering. Past the gate the
        // frames below are the 100 TB path (bucket-scoped IVF).
        // NULLs: a NULL embedding has a NULL similarity to every vector;
        // every ranking sorts similarity DESC NULLS LAST, then id ASC.
        val gate = 200000
        val rawRows = t(s, dir, "embeddings").select("vec_id", "embedding")
          .limit(gate + 1).collect()
        if (rawRows.length <= gate) {
          val sc2 = s
          import sc2.implicits._
          val n = rawRows.length
          val ids = Array.tabulate(n)(i => rawRows(i).getLong(0))
          val vecs = Array.tabulate(n)(i =>
            if (rawRows(i).isNullAt(1)) None
            else Some(rawRows(i).getSeq[Float](1).toArray))
          def dotD(a: Array[Float], b: Array[Float]): Double = {
            var acc = 0.0; var i = 0
            while (i < a.length && i < b.length) {
              acc += a(i).toDouble * b(i).toDouble; i += 1 }
            acc
          }
          val nrm = vecs.map(_.map(v => math.sqrt(dotD(v, v))))
          def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          def sim6(i: Int, j: Int): Option[Double] =
            for (a <- vecs(i); b <- vecs(j); na <- nrm(i); nb <- nrm(j))
              yield round6(dotD(a, b) / (na * nb))
          def cos6out(i: Int, j: Int): Option[Double] = sim6(i, j).map(_ + 0.0)
          val descAsc = Ordering.Tuple2(nullsLast(Ordering[Double].reverse), Ordering[Long])
          val seedIdx = (0 until n).filter(i => ids(i) % SeedMod == 0)
          val queryIdx = (0 until n).filter(i => ids(i) < NQ)
          // assignment: best seed by (round6(cos) DESC, c_id ASC)
          val cellOf = Array.tabulate(n) { i =>
            if (seedIdx.isEmpty) -1L
            else seedIdx.iterator.map(sj => (sim6(i, sj), ids(sj))).min(descAsc)._2
          }
          // ground truth: top-K by (cos6out DESC, vec_id ASC), self excluded
          val gtSets = queryIdx.map { qi =>
            qi -> (0 until n).filter(j => ids(j) != ids(qi))
              .map(j => (cos6out(qi, j), ids(j)))
              .sorted(descAsc).take(K).map(_._2).toSet
          }.toMap
          val out = Seq(1, 2, 4).map { np =>
            var hits = 0L
            queryIdx.foreach { qi =>
              val probeCells = seedIdx
                .map(sj => (sim6(qi, sj), ids(sj)))
                .sorted(descAsc).take(np).map(_._2).toSet
              val found = (0 until n)
                .filter(j => probeCells(cellOf(j)) && ids(j) != ids(qi))
                .map(j => (cos6out(qi, j), ids(j)))
                .sorted(descAsc).take(K).map(_._2)
              hits += found.count(gtSets(qi))
            }
            val nq = queryIdx.size.toLong
            (np.toLong, nq, hits, hits * 10000 / math.max(nq * K, 1L))
          }
          out.toDF("nprobe", "n_queries", "n_hits", "recall_bp")
        } else {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            VectorOps.norm("embedding").as("nrm"))
          // repartition: single-file scan = ONE partition (see q198)
          .repartition(col("vec_id"))
          .cache()
        e.count() // eager: corpus, seeds, queries, ground truth
        val seeds = e.filter(col("vec_id") % SeedMod === 0)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
            col("nrm").as("c_nrm"))
        val queries = e.filter(col("vec_id") < NQ)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("nrm").as("q_nrm"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("sim6").desc, col("c_id"))
        val assigned = e.crossJoin(broadcast(seeds))
          .withColumn("sim6", round(VectorOps.cosineFromNorms(
            "embedding", "c_vec", "nrm", "c_nrm"), 6))
          .withColumn("arn", row_number().over(wAssign))
          .filter(col("arn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("c_id").as("cell"))
        assigned.cache(); assigned.count() // eager: probed per nprobe
        // ground truth: brute force (query side broadcast)
        val wGt = Window.partitionBy("q_id").orderBy(col("cos6").desc, col("vec_id"))
        val gt = e.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos6", VectorOps.cosine6Out("q_vec", "embedding", "q_nrm", "nrm"))
          .withColumn("rn", row_number().over(wGt))
          .filter(col("rn") <= K)
          .select(col("q_id"), col("vec_id"))
        gt.cache(); gt.count()
        val wProbe = Window.partitionBy("q_id").orderBy(col("sim6").desc, col("c_id"))
        val cellRank = queries.crossJoin(broadcast(seeds))
          .withColumn("sim6", round(VectorOps.cosineFromNorms(
            "q_vec", "c_vec", "q_nrm", "c_nrm"), 6))
          .withColumn("prn", row_number().over(wProbe))
        cellRank.cache(); cellRank.count()
        val sweep = Seq(1, 2, 4).map { np =>
          val probes = cellRank.filter(col("prn") <= np)
            .select(col("q_id"), col("q_vec"), col("q_nrm"),
              col("c_id").as("cell"))
          val wTop = Window.partitionBy("q_id").orderBy(col("cos6").desc, col("vec_id"))
          val found = assigned.join(broadcast(probes), "cell")
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("cos6", VectorOps.cosine6Out("q_vec", "embedding", "q_nrm", "nrm"))
            .withColumn("rn", row_number().over(wTop))
            .filter(col("rn") <= K)
            .select(col("q_id"), col("vec_id"))
          // recall denominator is the FIXED query set (NQ*K), not just
          // queries with >=1 hit — a query that misses entirely must
          // still count against recall
          found.join(gt, Seq("q_id", "vec_id"))
            .agg(count(lit(1)).cast("long").as("n_hits"))
            .crossJoin(broadcast(
              queries.agg(count(lit(1)).cast("long").as("n_queries"))))
            .selectExpr(s"CAST($np AS BIGINT) AS nprobe", "n_queries",
              // greatest(...,1): empty corpus → 0 queries; recall 0, not ÷0
              "n_hits", s"n_hits * 10000 DIV greatest(n_queries * $K, 1) AS recall_bp")
        }.reduce(_ unionByName _)
        sweep.orderBy("nprobe")
        }
      },
      Some {
        val K = 5; val NQ = 8; val SeedMod = 100
        def one(np: Int) = s"""
          SELECT CAST($np AS BIGINT) AS nprobe,
                 (SELECT CAST(count(*) AS BIGINT) FROM queries) AS n_queries,
                 CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(*) AS BIGINT) * 10000
                   // greatest((SELECT count(*) FROM queries) * $K, 1) AS recall_bp
          FROM (
            SELECT q_id, vec_id FROM (
              SELECT p.q_id, a.vec_id,
                     row_number() OVER (PARTITION BY p.q_id ORDER BY
                       ${VectorOps.cosine6OutSql("p.q_vec", "a.embedding", "p.q_nrm", "a.nrm")} DESC,
                       a.vec_id) AS rn
              FROM (SELECT q_id, q_vec, q_nrm, cell FROM proberank
                    WHERE prn <= $np) p
              JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id)
            WHERE rn <= $K) f
          JOIN gt ON gt.q_id = f.q_id AND gt.vec_id = f.vec_id"""
        s"""
        WITH e AS (SELECT vec_id, embedding,
                          ${VectorOps.normSql("embedding")} AS nrm
                   FROM embeddings),
        seeds AS (SELECT vec_id AS c_id, embedding AS c_vec, nrm AS c_nrm
                  FROM e WHERE vec_id % $SeedMod = 0),
        queries AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm
                    FROM e WHERE vec_id < $NQ),
        assigned AS (
          SELECT vec_id, embedding, nrm, cell FROM (
            SELECT e.vec_id, e.embedding, e.nrm, s.c_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     round(${VectorOps.cosineFromNormsSql("e.embedding", "s.c_vec", "e.nrm", "s.c_nrm")}, 6) DESC,
                     s.c_id) AS arn
            FROM e CROSS JOIN seeds s)
          WHERE arn = 1),
        gt AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.q_id ORDER BY
                     ${VectorOps.cosine6OutSql("q.q_vec", "e.embedding", "q.q_nrm", "e.nrm")} DESC,
                     e.vec_id) AS rn
            FROM e CROSS JOIN queries q
            WHERE e.vec_id <> q.q_id)
          WHERE rn <= $K),
        proberank AS (
          SELECT q.q_id, q.q_vec, q.q_nrm, s.c_id AS cell,
                 row_number() OVER (PARTITION BY q.q_id ORDER BY
                   round(${VectorOps.cosineFromNormsSql("q.q_vec", "s.c_vec", "q.q_nrm", "s.c_nrm")}, 6) DESC,
                   s.c_id) AS prn
          FROM queries q CROSS JOIN seeds s)
        ${one(1)} UNION ALL ${one(2)} UNION ALL ${one(4)}
        ORDER BY nprobe"""
      })
  )
}
