package graftbench

import graft.dedup.{Components, Dedup}
import graft.functions.{PortableHash, TextFunctions}
import graft.geo.{QuadKey, SyntheticGeo}
import graft.operators.GridOps

/** DuckDB programs that recompute the curate and harvest outputs from the
  * same input files, apart from Spark. They are composed from the SQL
  * mirrors the engine ships beside each operator. Each program is a list
  * of (temp table, SELECT) steps, run in order. */
object OracleSql {

  /** Pipeline.curate over the view `docs`: exact dedup on the canonical
    * word-set key, MinHash/LSH near-dup clusters by transitive closure,
    * best quality per cluster, the quality floor and the hash split. */
  def curate(qualityMinBp: Long = 5000L, nHashes: Int = 6, bandSize: Int = 2): Seq[(String, String)] = {
    val en = TextFunctions.langMarkers.toMap.apply("en")
    val mins = Dedup.minhashAggSqls("h", nHashes).zipWithIndex
      .map { case (e, j) => s"$e AS mh$j" }.mkString(", ")
    val bands = (0 until nHashes / bandSize).map { b =>
      val parts = (0 until bandSize).map(k => s"mh${b * bandSize + k}").mkString(", ")
      s"SELECT doc_id, $b AS band, ${PortableHash.md5LongSql(s"concat_ws('|', $parts)", s"band$b~")} AS bucket FROM sigs"
    }.mkString(" UNION ALL ")
    val splitH = s"(${PortableHash.md5LongSql("CAST(doc_id AS VARCHAR)", "split~")} % 100)"
    Seq(
      "keyed" -> s"""SELECT doc_id, text, lang, source, n_chars, w,
                       ${Dedup.canonicalKeySql("w")} AS ck
                     FROM (SELECT *, ${TextFunctions.wordsSql("text")} AS w FROM docs)""",
      "exact" -> """SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER
                      (PARTITION BY ck ORDER BY doc_id) AS rn FROM keyed) WHERE rn = 1""",
      "sigs" -> s"""SELECT doc_id, $mins FROM (
                      SELECT doc_id, unnest(${Dedup.shingleHashesSql(TextFunctions.wordNgramsSql("w", 3))}) AS h
                      FROM exact WHERE len(w) >= 3) GROUP BY doc_id""",
      "bands" -> bands,
      "pairs" -> """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
                    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""",
      "labels" -> Components.labelPropagationSql("SELECT id_a, id_b FROM pairs"),
      "quality" -> s"""SELECT doc_id, text, lang, source, n_chars,
                         len(list_distinct(w)) * 5000 // len(w)
                         + least(coalesce(list_sum(list_transform(w, x -> length(x))), 0) * 300 // len(w), 3000)
                         + (2000 - ${TextFunctions.langScoreSql("w", en)} * 2000 // len(w)) AS quality_bp
                       FROM exact""",
      "near" -> """SELECT * EXCLUDE (krn, lbl, id) FROM (
                     SELECT q.*, l.*, row_number() OVER (PARTITION BY coalesce(l.lbl, q.doc_id)
                       ORDER BY q.quality_bp DESC, q.doc_id) AS krn
                     FROM quality q LEFT JOIN labels l ON q.doc_id = l.id) WHERE krn = 1""",
      "qualified" -> s"SELECT * FROM near WHERE quality_bp >= $qualityMinBp",
      "curated" -> s"""SELECT doc_id, quality_bp, CASE WHEN $splitH < 90 THEN 'train'
                         WHEN $splitH < 95 THEN 'val' ELSE 'test' END AS split FROM qualified""",
      "report" -> """SELECT '0_raw' AS stage, count(*) AS n_docs FROM docs
                     UNION ALL SELECT '1_exact_dedup', count(*) FROM exact
                     UNION ALL SELECT '2_near_dedup', count(*) FROM near
                     UNION ALL SELECT '3_quality_floor', count(*) FROM qualified
                     UNION ALL SELECT '4_split', count(*) FROM curated""")
  }

  /** HarvestCycle.plan's grid over the view `events`: the leaves from
    * GridOps.subdivideSql, their tile ids and the newest point per leaf. */
  def harvestLeaves(z0: Int = 3, zMax: Int = 7, threshold: Long = 200L): Seq[(String, String)] = {
    val lng = SyntheticGeo.lngSql
    val lat = SyntheticGeo.latSql
    val perLevel = (z0 to zMax).map { z =>
      s"SELECT $z AS z, ${QuadKey.tileXSql(lng, z)} AS x, ${QuadKey.tileYSql(lat, z)} AS y, epoch_ms(ts) AS t FROM events"
    }.mkString(" UNION ALL ")
    Seq(
      "leaves" -> GridOps.subdivideSql("SELECT user_id, event_id FROM events", lng, lat, z0, zMax, threshold),
      "grid" -> s"""SELECT l.z, l.x, l.y, l.c,
                      (CAST(l.z AS BIGINT) << 48) + (l.x << 24) + l.y AS tile_id, max(p.t) AS last_ts
                    FROM leaves l LEFT JOIN ($perLevel) p ON p.z = l.z AND p.x = l.x AND p.y = l.y
                    GROUP BY ALL""")
  }
}
