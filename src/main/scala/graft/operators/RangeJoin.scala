package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}

/** Interval (range) join without an equi-key — the classic operator
  * Spark lacks natively. A raw `ts >= start AND ts < end` join has no
  * equality conjunct, so Catalyst can only plan a broadcast
  * nested-loop; fine when one side is tiny, quadratic death when both
  * sides are large. The standard large×large fix is binning: quantize
  * time into fixed-width buckets, explode each interval into the
  * buckets it covers, equi-join on the bucket, then apply the exact
  * range predicate. Each point lives in exactly one bucket, so a
  * (point, interval) pair meets at most once — no dedup needed — and
  * the join is a plain hash/merge equi-join that shuffles by bucket.
  *
  * Cost model: intervals explode into ceil(span/binWidth)+1 rows, so
  * pick binWidth near the typical interval span (here: 1 h bins for
  * 2 h windows → ≤3 rows per interval). Skewed buckets (one hot hour)
  * salt like any hot key; AQE's skew-join handles it at runtime.
  */
object RangeJoin {

  /** Join `points` (with timestamp column `tsCol`) to `intervals`
    * (with `[startCol, endCol)` timestamp bounds) on containment.
    * Column names must be distinct across the two sides. Empty or
    * inverted intervals (end ≤ start) match nothing and are dropped.
    */
  def binnedIntervalJoin(
      points: DataFrame,
      tsCol: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      binMicros: Long): DataFrame = {
    require(binMicros > 0, "binMicros must be positive")
    val p = points.withColumn("__bin", expr(s"unix_micros($tsCol) div $binMicros"))
    val iv = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__bin",
        explode(sequence(
          expr(s"unix_micros($startCol) div $binMicros"),
          expr(s"(unix_micros($endCol) - 1) div $binMicros"))))
    p.join(iv, "__bin")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__bin")
  }

  /** 2-D RADIUS JOIN as a library operator: all (left, right) row
    * pairs whose integer coordinate columns lie within squared
    * Euclidean distance r² — the planar/geohash join, binning's 2-D
    * sibling. Exact r-cell cover: each left row keys to ONE r×r
    * cell (floor division via the pmod identity, so NEGATIVE
    * coordinates cover correctly too — truncating DIV would tear the
    * |Δcell| ≤ 1 property around zero), the right side replicates to
    * its 3×3 neighborhood, the equi-join on the cell is the only
    * wide op, and the exact d² predicate verifies post-join. Output:
    * left ⨯ right columns (names must be distinct) plus `d2`. Pass a
    * `broadcast(right)` hint when that side is dimension-sized.
    */
  def radiusJoin(left: DataFrame, right: DataFrame,
      lx: String, ly: String, rx: String, ry: String, r: Long): DataFrame = {
    require(r > 0, s"radius must be positive, got $r")
    // Public-API hardening (round-12 ADVICE): the helper/output
    // columns used to be injected with withColumn — silently REPLACING
    // same-named caller columns — and the distance predicate spliced
    // raw names into expr() strings, so a name needing backticks
    // corrupted results instead of failing. Fail loudly on both.
    val internal = Seq("_cellx", "_celly", "_dx", "_dy", "d2")
    for (c <- left.columns ++ right.columns)
      require(!internal.contains(c),
        s"radiusJoin: input column '$c' collides with an internal/" +
          s"output column (${internal.mkString(", ")}) — rename it first")
    for (c <- Seq(lx, ly, rx, ry))
      require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"radiusJoin: coordinate column '$c' is not a plain identifier")
    // LONG arithmetic throughout (round-12 ADVICE): INT coordinates
    // would square into silent 32-bit overflow under non-ANSI Spark;
    // the diffs are cast before squaring so d2 is exact for any
    // |coord| < 2^31 (and ANSI mode makes a LONG overflow loud).
    // floor div, integer-exact for ANY long coordinate (identifier
    // splice is safe: names were just validated as plain identifiers)
    def cell(c: String) = expr(
      s"(CAST($c AS BIGINT) - pmod(CAST($c AS BIGINT), ${r}L)) DIV ${r}L")
    val r9 = right
      .withColumn("_dx", explode(expr("sequence(-1, 1)")))
      .withColumn("_dy", explode(expr("sequence(-1, 1)")))
      .withColumn("_cellx", cell(rx) + col("_dx"))
      .withColumn("_celly", cell(ry) + col("_dy"))
      .drop("_dx", "_dy")
    val dx = col(lx).cast("long") - col(rx).cast("long")
    val dy = col(ly).cast("long") - col(ry).cast("long")
    left
      .withColumn("_cellx", cell(lx))
      .withColumn("_celly", cell(ly))
      .join(r9, Seq("_cellx", "_celly"))
      .withColumn("d2", dx * dx + dy * dy)
      .filter(col("d2") <= lit(r * r))
      .drop("_cellx", "_celly")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(
    // Event density around anchor events: the first 40 events open
    // 2-hour windows; count the events and distinct users inside each.
    // Both join sides are the events table — the large×large shape
    // where binning matters (anchors could be millions at corpus
    // scale; the bin equi-join keeps it a shuffle, not a loop).
    "ev_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val iv = ev.filter(col("event_id") < 40)
        .select(col("event_id").as("interval_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      binnedIntervalJoin(
          ev.select(col("user_id"), col("ts")), "ts",
          iv, "start_ts", "end_ts", binMicros = 3600L * 1000000L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("interval_id")
    }),

    // SPATIAL RADIUS JOIN — binning's 2-D sibling and the other
    // classic join Spark lacks natively: "every supplier within
    // radius r of each customer". The naive form is a distance-
    // predicate cross join (quadratic death); the scale form
    // quantizes the plane into r×r cells, replicates the SMALL side
    // to its 3×3 cell neighborhood (if d ≤ r the cell indices differ
    // by ≤ 1 — the cover is exact, not heuristic), equi-joins on the
    // cell, and verifies with the exact predicate. Coordinates are
    // the house md5 fixture (salted positional-nibble decodes onto a
    // 10⁶-unit micro-grid — TPC-H has no geography), distance is
    // integer squared Euclidean (no trig anywhere near the gate; on
    // a real geo deployment this is the planar-projection form and
    // the cells are geohash/S2 prefixes). Per matched customer:
    // match count, nearest squared distance, nearest supplier
    // (ties → smallest id, the argmin-as-two-aggregations trick).
    // Scale: cells shuffle-partition; the 9× replication rides the
    // broadcast-size side; the big side never explodes.
    "q_spatial_radius_join" -> ((s, dir) => {
      val r = SpatialRadius
      def coord(salt: String, c: Column): Column =
        pmod(conv(substring(md5(concat(lit(salt), c.cast("string"))), 1, 13),
          16, 10).cast("long"), lit(1000000L))
      val cust = Tables.customer(s, dir).select(col("c_custkey").as("cid"),
        coord("gx", col("c_custkey")).as("cx"),
        coord("gy", col("c_custkey")).as("cy"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey").as("sid"),
        coord("hx", col("s_suppkey")).as("sx"),
        coord("hy", col("s_suppkey")).as("sy"))
      val cand = radiusJoin(cust, broadcast(sup), "cx", "cy", "sx", "sy", r)
        .localCheckpoint(false) // best + nearest + the final join read it
      val best = cand.groupBy("cid")
        .agg(count(lit(1)).as("n_within"), min(col("d2")).as("nearest_d2"))
      val nearest = cand
        .join(best.select(col("cid"), col("nearest_d2").as("d2")),
          Seq("cid", "d2"))
        .groupBy("cid", "d2").agg(min(col("sid")).as("nearest_sid"))
      best.join(nearest.select(col("cid"), col("nearest_sid")), "cid")
        .select(col("cid").as("c_custkey"), col("n_within"),
          col("nearest_d2"), col("nearest_sid"))
        .orderBy("c_custkey")
    })
  )

  /** Radius of the spatial join in micro-grid units (grid = 10⁶²):
    * ~0.3% of the grid width — sparse but firing (≈0.28 expected
    * matches per customer at sf0.01, ≈2.8 at sf0.1).
    */
  val SpatialRadius = 30000L

  /** Positional nibble decode of md5(e) — the hex13 idiom over an
    * arbitrary SQL expression, folded through the ONE shared
    * [[OracleSql.hexLong]] definition (round-12 ADVICE).
    */
  private def hex13Of(e: String): String =
    OracleSql.hexLong(s"md5($e)", 1, 13)

  val oracleSql: Map[String, String] = Registry.of(
    // The oracle states the semantics directly as an inequality join.
    "ev_range_join" ->
      """WITH iv AS (
        |  SELECT event_id AS interval_id, ts AS start_ts,
        |         ts + INTERVAL 2 HOUR AS end_ts
        |  FROM events WHERE event_id < 40)
        |SELECT interval_id, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM iv JOIN events e ON e.ts >= start_ts AND e.ts < end_ts
        |GROUP BY interval_id ORDER BY interval_id""".stripMargin,

    // the oracle states the semantics as the distance-predicate join
    // (quadratic is fine at oracle scale; the cell cover is the
    // Spark-side physical form, row-identical by the |Δcell| ≤ 1
    // argument)
    "q_spatial_radius_join" -> {
      val r = SpatialRadius
      s"""WITH c AS (
         |  SELECT c_custkey AS cid,
         |    ${hex13Of("'gx' || CAST(c_custkey AS VARCHAR)")} % 1000000 AS cx,
         |    ${hex13Of("'gy' || CAST(c_custkey AS VARCHAR)")} % 1000000 AS cy
         |  FROM customer),
         |s2 AS (
         |  SELECT s_suppkey AS sid,
         |    ${hex13Of("'hx' || CAST(s_suppkey AS VARCHAR)")} % 1000000 AS sx,
         |    ${hex13Of("'hy' || CAST(s_suppkey AS VARCHAR)")} % 1000000 AS sy
         |  FROM supplier),
         |cand AS (
         |  SELECT cid, sid,
         |    (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
         |  FROM c CROSS JOIN s2
         |  WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= ${r * r}),
         |best AS (
         |  SELECT cid, count(*)::BIGINT AS n_within,
         |    CAST(min(d2) AS BIGINT) AS nearest_d2
         |  FROM cand GROUP BY cid),
         |nearest AS (
         |  SELECT cand.cid, CAST(min(cand.sid) AS BIGINT) AS nearest_sid
         |  FROM cand JOIN best ON cand.cid = best.cid
         |    AND cand.d2 = best.nearest_d2
         |  GROUP BY cand.cid)
         |SELECT b.cid AS c_custkey, b.n_within, b.nearest_d2, n.nearest_sid
         |FROM best b JOIN nearest n ON b.cid = n.cid
         |ORDER BY c_custkey""".stripMargin
    }
  )
}
