package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{functions => gf}

/** Reverse geocoding against street POLYLINES (reference
  * /root/reference/src/reverse.cc:94-126 + include/adr/adr.h:41-43): a
  * probe coordinate collects nearby street segments from the spatial
  * index and scores each by `geo::distance_to_polyline` — the distance to
  * the closest point ON the segment chain, not to a representative point
  * (q34 covers the point-to-point tiers) — then keeps the n best.
  *
  * Spark shape: the same 3×3-cell equi-join as q34/q40 (the R-tree
  * candidate pass, hot cells capped), then the exact clamped-projection
  * kernel `polyline_dist2` (codegen, one pass over the vertex array) and
  * a per-probe WindowGroupLimit top-n. No cross join anywhere; the only
  * exchanges are the cell shuffle and the per-probe window.
  */
object ReverseGeo {
  import Tables.load

  /** Capped 3×3-replicated street-polyline cells (site_id, line, cla,
    * clo) — each supplier owns an irregular 3-vertex polyline (2
    * segments, deterministic radii). ONE definition shared by q52 and
    * q58's street branch: both queries' oracles unroll exactly this
    * geometry, so a change here must show up in both or their "q52
    * covers the street branch" relationship silently breaks. */
  private[ops] def streetCells(spark: SparkSession, dir: String): DataFrame = {
    def radius(mult: Int): Column =
      lit(0.05) + ((col("site_id") * mult) % 20).cast("double") / 100.0
    val line = array( // v1 -> v2 (site center) -> v3; distinct radii per leg
      struct((col("s_lng") - radius(17)).as("x"), (col("s_lat") - radius(13)).as("y")),
      struct(col("s_lng").as("x"), col("s_lat").as("y")),
      struct((col("s_lng") + radius(23)).as("x"), (col("s_lat") + radius(19)).as("y")))
    Extras.siteCells(Extras.supplierSites(spark, dir)
      .withColumn("line", line), "s_lat", "s_lng") // S6 mm_vecvec segment storage analogue
  }

  /** q52: top-3 streets per probe by exact point-to-polyline squared
    * degree distance, with the closest point — reverse.cc's street
    * branch end to end. The oracle unrolls the clamped projection per
    * segment with the identical IEEE association, so the hash check is
    * exact. */
  def q52ReverseStreets(spark: SparkSession, dir: String): DataFrame = {
    val pts = Extras.probePoints(spark, dir)
    val streets = streetCells(spark, dir)
    pts.join(streets, Seq("cla", "clo")) // R-tree candidate pass analogue
      .withColumn("r", gf.polyline_dist2(col("line"), col("lng"), col("lat")))
      .withColumn("d2", col("r").getItem(0))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("d2"), col("site_id"))))
      .filter(col("rank") <= 3) // n_guesses
      .select(col("id"), col("rank"), col("site_id"),
        round(col("d2"), 6).as("dist2"),
        round(col("r").getItem(1), 6).as("closest_lng"),
        round(col("r").getItem(2), 6).as("closest_lat"))
  }

  /** q58: the COMPOSED reverse lookup — the reference's actual public-API
    * behavior (`reverse::lookup`, reverse.cc:50-132; entry point
    * include/adr/adr.h:41-43): ONE probe collects BOTH street-segment
    * hits (scored by distance to the POLYLINE, reverse.cc:99-110) and
    * house/place POINT hits (scored by point distance MINUS a constant
    * bonus, `geo::distance(query, c) - 10.F`, reverse.cc:66/91), applies
    * the `filter_type` gate per entity kind (`allows(filter, ...)`,
    * :52/:73), then ranks everything in one shared top-n
    * (`nth_element` + sort over the merged vector, :125-128). q52 covers
    * the street branch and q34 the point tiers; this query is the merged
    * union → one top-n that a reverse-geocoding CALLER actually sees.
    *
    * Spark shape: both branches are the audited capped 3×3-cell equi-join
    * (never a cross join), `unionByName` merges them (§2.9), the filter
    * gate is a plain predicate, and the shared top-n is one per-probe
    * WindowGroupLimit. Scores are in milli-degree units (sqrt is
    * correctly-rounded IEEE, so both engines compute bit-identical
    * doubles; output as 1e-6 fixed point per the repo rounding rule).
    * Probes deterministically exercise the filter gate: id%3==0 →
    * address-only (streets), id%3==1 → places-only, else both. */
  def q58ReverseLookup(spark: SparkSession, dir: String): DataFrame = {
    val pts = Extras.probePoints(spark, dir)
    // street branch: q52's polylines (shared builder — see streetCells),
    // score = polyline distance (no bonus)
    val streetHits = pts.join(streetCells(spark, dir), Seq("cla", "clo"))
      .withColumn("d2",
        gf.polyline_dist2(col("line"), col("lng"), col("lat")).getItem(0))
      .select(col("id"), lit("street").as("kind"),
        col("site_id").as("entity_id"),
        (sqrt(col("d2")) * 1000.0).as("score"))
    // place branch: q34's point sites (namespaced by kind), score =
    // point distance − 10 (the reference's house/place bonus: a point hit
    // AT its location should outrank a street you are merely near)
    val places = Extras.siteCells(Extras.supplierSites(spark, dir), "s_lat", "s_lng")
    val dlat = col("lat") - col("s_lat")
    val dlng = col("lng") - col("s_lng")
    // identity is the (kind, entity_id) PAIR — no numeric offset: any
    // constant offset collides with the street id space once site ids
    // exceed it (e.g. supplier keys past 1e7), silently mis-attributing
    // hits exactly at scale
    val placeHits = pts.join(places, Seq("cla", "clo"))
      .select(col("id"), lit("place").as("kind"),
        col("site_id").as("entity_id"),
        (sqrt(dlat * dlat + dlng * dlng) * 1000.0 - 10.0).as("score"))
    // merged union (§2.9) + the filter_type gate + ONE shared top-n
    streetHits.unionByName(placeHits)
      .filter((col("kind") === "street" && col("id") % 3 =!= 1) ||
        (col("kind") === "place" && col("id") % 3 =!= 0))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("score"), col("kind"), col("entity_id"))))
      .filter(col("rank") <= 3) // n_guesses over the MERGED candidate set
      .select(col("id"), col("rank"), col("kind"), col("entity_id"),
        floor(col("score") * 1000000 + 0.5).cast("long").as("score_fp"))
  }

  val oracles: Map[String, String] = Map(
    "q52_reverse_streets" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lat,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lng
        |  FROM customer),
        |poly AS (
        |  SELECT s_suppkey AS site_id,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS sy,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS sx,
        |    0.05 + CAST((s_suppkey * 13) % 20 AS DOUBLE) / 100.0 AS r13,
        |    0.05 + CAST((s_suppkey * 17) % 20 AS DOUBLE) / 100.0 AS r17,
        |    0.05 + CAST((s_suppkey * 19) % 20 AS DOUBLE) / 100.0 AS r19,
        |    0.05 + CAST((s_suppkey * 23) % 20 AS DOUBLE) / 100.0 AS r23
        |  FROM supplier),
        |cells AS (
        |  SELECT *, CAST(floor(sy) + dx.dx AS INT) AS cla,
        |    CAST(floor(sx) + dy.dy AS INT) AS clo
        |  FROM poly,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dx) dx,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dy) dy),
        |cell_ok AS (
        |  SELECT cla, clo FROM cells GROUP BY 1, 2 HAVING count(*) <= 256),
        |cells_kept AS (
        |  SELECT s.* FROM cells s JOIN cell_ok k
        |    ON s.cla = k.cla AND s.clo = k.clo),
        |j AS (
        |  SELECT p.id, p.lng AS px, p.lat AS py, s.*
        |  FROM pts p JOIN cells_kept s
        |    ON CAST(floor(p.lat) AS INT) = s.cla AND CAST(floor(p.lng) AS INT) = s.clo),
        |seg AS (
        |  SELECT *,
        |    sx - r17 AS a1x, sy - r13 AS a1y, sx AS b1x, sy AS b1y,
        |    sx AS a2x, sy AS a2y, sx + r23 AS b2x, sy + r19 AS b2y
        |  FROM j),
        |-- clamped projection per segment, IEEE association matching the
        |-- polyline_dist2 kernel exactly
        |proj AS (
        |  SELECT *,
        |    least(greatest(
        |      ((px - a1x) * (b1x - a1x) + (py - a1y) * (b1y - a1y))
        |        / ((b1x - a1x) * (b1x - a1x) + (b1y - a1y) * (b1y - a1y)),
        |      0.0), 1.0) AS tc1,
        |    least(greatest(
        |      ((px - a2x) * (b2x - a2x) + (py - a2y) * (b2y - a2y))
        |        / ((b2x - a2x) * (b2x - a2x) + (b2y - a2y) * (b2y - a2y)),
        |      0.0), 1.0) AS tc2
        |  FROM seg),
        |cl AS (
        |  SELECT *,
        |    a1x + tc1 * (b1x - a1x) AS c1x, a1y + tc1 * (b1y - a1y) AS c1y,
        |    a2x + tc2 * (b2x - a2x) AS c2x, a2y + tc2 * (b2y - a2y) AS c2y
        |  FROM proj),
        |dd AS (
        |  SELECT *,
        |    (px - c1x) * (px - c1x) + (py - c1y) * (py - c1y) AS d2_1,
        |    (px - c2x) * (px - c2x) + (py - c2y) * (py - c2y) AS d2_2
        |  FROM cl),
        |sel AS (
        |  SELECT id, site_id,
        |    CASE WHEN d2_2 < d2_1 THEN d2_2 ELSE d2_1 END AS d2,
        |    CASE WHEN d2_2 < d2_1 THEN c2x ELSE c1x END AS cx,
        |    CASE WHEN d2_2 < d2_1 THEN c2y ELSE c1y END AS cy
        |  FROM dd),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY d2 ASC, site_id ASC) AS rank
        |  FROM sel)
        |SELECT id, CAST(rank AS INT) AS rank, CAST(site_id AS BIGINT) AS site_id,
        |  round(d2, 6) AS dist2, round(cx, 6) AS closest_lng,
        |  round(cy, 6) AS closest_lat
        |FROM ranked WHERE rank <= 3""".stripMargin,
    // q58: both branches unrolled — the street CTEs are q52's projection
    // chain verbatim; the place branch mirrors q34's cell join; then the
    // gate + ONE shared row_number over the UNION ALL
    "q58_reverse_lookup" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lat,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lng
        |  FROM customer),
        |poly AS (
        |  SELECT s_suppkey AS site_id,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS sy,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS sx,
        |    0.05 + CAST((s_suppkey * 13) % 20 AS DOUBLE) / 100.0 AS r13,
        |    0.05 + CAST((s_suppkey * 17) % 20 AS DOUBLE) / 100.0 AS r17,
        |    0.05 + CAST((s_suppkey * 19) % 20 AS DOUBLE) / 100.0 AS r19,
        |    0.05 + CAST((s_suppkey * 23) % 20 AS DOUBLE) / 100.0 AS r23
        |  FROM supplier),
        |cells AS (
        |  SELECT *, CAST(floor(sy) + dx.dx AS INT) AS cla,
        |    CAST(floor(sx) + dy.dy AS INT) AS clo
        |  FROM poly,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dx) dx,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dy) dy),
        |cell_ok AS (
        |  SELECT cla, clo FROM cells GROUP BY 1, 2 HAVING count(*) <= 256),
        |cells_kept AS (
        |  SELECT s.* FROM cells s JOIN cell_ok k
        |    ON s.cla = k.cla AND s.clo = k.clo),
        |j AS (
        |  SELECT p.id, p.lng AS px, p.lat AS py, s.*
        |  FROM pts p JOIN cells_kept s
        |    ON CAST(floor(p.lat) AS INT) = s.cla AND CAST(floor(p.lng) AS INT) = s.clo),
        |seg AS (
        |  SELECT *,
        |    sx - r17 AS a1x, sy - r13 AS a1y, sx AS b1x, sy AS b1y,
        |    sx AS a2x, sy AS a2y, sx + r23 AS b2x, sy + r19 AS b2y
        |  FROM j),
        |proj AS (
        |  SELECT *,
        |    least(greatest(
        |      ((px - a1x) * (b1x - a1x) + (py - a1y) * (b1y - a1y))
        |        / ((b1x - a1x) * (b1x - a1x) + (b1y - a1y) * (b1y - a1y)),
        |      0.0), 1.0) AS tc1,
        |    least(greatest(
        |      ((px - a2x) * (b2x - a2x) + (py - a2y) * (b2y - a2y))
        |        / ((b2x - a2x) * (b2x - a2x) + (b2y - a2y) * (b2y - a2y)),
        |      0.0), 1.0) AS tc2
        |  FROM seg),
        |cl AS (
        |  SELECT *,
        |    a1x + tc1 * (b1x - a1x) AS c1x, a1y + tc1 * (b1y - a1y) AS c1y,
        |    a2x + tc2 * (b2x - a2x) AS c2x, a2y + tc2 * (b2y - a2y) AS c2y
        |  FROM proj),
        |dd AS (
        |  SELECT *,
        |    (px - c1x) * (px - c1x) + (py - c1y) * (py - c1y) AS d2_1,
        |    (px - c2x) * (px - c2x) + (py - c2y) * (py - c2y) AS d2_2
        |  FROM cl),
        |street_hits AS (
        |  SELECT id, 'street' AS kind, CAST(site_id AS BIGINT) AS entity_id,
        |    sqrt(CASE WHEN d2_2 < d2_1 THEN d2_2 ELSE d2_1 END) * 1000.0 AS score
        |  FROM dd),
        |psites AS (
        |  SELECT s_suppkey AS site_id,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS p_lat,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS p_lng
        |  FROM supplier),
        |pcells AS (
        |  SELECT site_id, p_lat, p_lng,
        |    CAST(floor(p_lat) + dx.dx AS INT) AS cla,
        |    CAST(floor(p_lng) + dy.dy AS INT) AS clo
        |  FROM psites,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dx) dx,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dy) dy),
        |pcell_ok AS (
        |  SELECT cla, clo FROM pcells GROUP BY 1, 2 HAVING count(*) <= 256),
        |pcells_kept AS (
        |  SELECT s.* FROM pcells s JOIN pcell_ok k
        |    ON s.cla = k.cla AND s.clo = k.clo),
        |place_hits AS (
        |  SELECT p.id, 'place' AS kind,
        |    CAST(s.site_id AS BIGINT) AS entity_id,
        |    sqrt((p.lat - s.p_lat) * (p.lat - s.p_lat)
        |      + (p.lng - s.p_lng) * (p.lng - s.p_lng)) * 1000.0 - 10.0 AS score
        |  FROM pts p JOIN pcells_kept s
        |    ON CAST(floor(p.lat) AS INT) = s.cla AND CAST(floor(p.lng) AS INT) = s.clo),
        |u AS (
        |  SELECT * FROM street_hits UNION ALL SELECT * FROM place_hits),
        |f AS (
        |  SELECT * FROM u
        |  WHERE (kind = 'street' AND id % 3 <> 1)
        |     OR (kind = 'place' AND id % 3 <> 0)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY score ASC, kind ASC, entity_id ASC) AS rank
        |  FROM f)
        |SELECT id, CAST(rank AS INT) AS rank, kind, entity_id,
        |  CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_fp
        |FROM r WHERE rank <= 3""".stripMargin
  )
}
