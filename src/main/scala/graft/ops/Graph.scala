package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-activity graph construction + triangle / clustering statistics —
  * the community-structure primitives (bot-ring / coordinated-behavior
  * screens, template-family detection) over an edge set derived
  * deterministically from the event stream.
  *
  * == Graph ==
  * [[coActivityEdges]]: users sharing an activity time bucket are
  * connected. Buckets hotter than `maxOccupancy` distinct users are
  * DROPPED, not exploded — the occupancy cap is the standard fanout dial
  * (a k-user bucket contributes C(k,2) pairs; uncapped hot buckets are
  * the quadratic blowup every co-occurrence join must bound). Cost:
  * one (bucket, user) distinct pass + a bucket-keyed self-join whose
  * per-bucket work is ≤ C(cap, 2).
  *
  * == Triangles ==
  * [[triangleStats]] counts each triangle once at its LOWEST-DEGREE
  * vertex (the node-iterator orientation of Schank & Wagner / the
  * MapReduce form of Suri & Vassilvitskii): orient every edge from the
  * (degree, id)-smaller endpoint, build wedges at the oriented source,
  * and close them against the undirected edge set. The orientation
  * bounds per-vertex wedge fanout by O(arboricity) ≈ O(√m) instead of
  * max-degree — the difference between a web-scale join and a hot-key
  * blowup. Exact integer counts; per-node clustering coefficient
  * `2·T/(deg·(deg−1))` is ONE IEEE divide (NULL below degree 2). */
object Graph {

  /** Undirected co-activity edges `(user_a < user_b)` over time buckets
    * of `bucketUs` microseconds, keeping only buckets with 2..cap
    * distinct users. */
  def coActivityEdges(events: DataFrame, bucketUs: Long,
      maxOccupancy: Int): DataFrame = {
    val bu = events
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select(expr(s"ts_us DIV ${bucketUs}L").as("bucket"),
        col("user_id"))
      .distinct()
    val occ = bu.groupBy(col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2 && col("occ") <= maxOccupancy)
    val inB = bu.join(occ.select("bucket"), Seq("bucket"))
    inB.as("a").join(inB.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .distinct()
  }

  /** Per-node (degree, triangles, clustering) over an undirected edge
    * set `(u < v)`. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // materialize the edge list ONCE: it is referenced by the degree
    // count, the orientation join and the wedge-closing join, and Spark
    // re-executes a lazy subtree per reference (the sketch_hll diamond —
    // a plan audit counted 108 corpus scans here before the checkpoint,
    // 4 after). Edge/node tables are graph-sized, not corpus-sized.
    val e = edges.select(col("u"), col("v")).localCheckpoint(true)
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // orient each edge from the (deg, id)-smaller endpoint
    val dpair = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val oriented = dpair.selectExpr(
      "IF(du < dv OR (du = dv AND u < v), u, v) AS src",
      "IF(du < dv OR (du = dv AND u < v), v, u) AS dst")
      .localCheckpoint(true)
    // wedges at the oriented source; close against the undirected set
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("p"), col("e1.dst").as("x"),
        col("e2.dst").as("y"))
    val tri = wedges.join(e,
      (col("x") === col("u") && col("y") === col("v")) ||
        (col("y") === col("u") && col("x") === col("v")))
      .select(col("p"), col("x"), col("y"))
    // every triangle increments all three corners
    val perNode = tri
      .select(explode(array(col("p"), col("x"), col("y"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left_outer")
      .selectExpr("n AS user_id", "deg",
        "coalesce(triangles, 0L) AS triangles",
        """CASE WHEN deg < 2 THEN CAST(NULL AS DOUBLE)
          |     ELSE CAST(2 * coalesce(triangles, 0L) AS DOUBLE)
          |          / (CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE))
          |END AS clustering""".stripMargin)
  }

  /** [[coActivityEdges]] + [[triangleStats]] composed over the events
    * table. */
  def coActivityTriangles(events: DataFrame, bucketUs: Long,
      maxOccupancy: Int): DataFrame =
    triangleStats(coActivityEdges(events, bucketUs, maxOccupancy))

  /** Degree assortativity (Newman's r — do high-degree nodes attach to
    * high-degree nodes?): the Pearson correlation of endpoint-degree
    * pairs over both orientations of every edge. Positive = hub-to-hub
    * (social/community structure), negative = hub-to-leaf (star/botnet
    * topology) — a one-number screen next to [[triangleStats]].
    *
    * Exactness: degrees are exact integers, so all five Pearson moments
    * are exact int64 sums (order-free, map-side partials; the
    * [[graft.ops.Regression]] moment discipline), and r is ONE fixed
    * double tree both engines share. NULL on degenerate (regular graph:
    * zero degree variance). Cost: the degree join + a 5-long moment
    * exchange. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v")).localCheckpoint(true)
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val pairs = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .selectExpr("du AS x", "dv AS y")
    val both = pairs.unionByName(pairs.selectExpr("y AS x", "x AS y"))
    both.agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr("m", AssortExpr)
  }

  /** The ONE Pearson tree shared with the Duck mirror. */
  private val AssortExpr: String =
    """CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = CAST(0 AS DOUBLE)
      |     OR CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
      |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = CAST(0 AS DOUBLE)
      |     THEN CAST(NULL AS DOUBLE)
      |     ELSE (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |          / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |             * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
      |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |END AS assortativity""".stripMargin

  /** k-core membership after EXACTLY `rounds` peeling rounds (each round
    * drops nodes whose degree within the surviving subgraph is < k) plus
    * a `converged` flag (round `rounds` changed nothing). A fixed round
    * count — not run-to-fixpoint — keeps the operator bitwise-mirrorable
    * (the oracle unrolls the same rounds; the engine checkpoints each) —
    * the [[graft.ops.Dedup.resolveClustersStar]] bounded-rounds
    * discipline: at web scale peeling converges in O(log n)-ish rounds
    * and an unconverged run says so in-band instead of lying. Output:
    * one row per surviving node (node, deg_in_core). */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 2, "need >= 2 rounds for the convergence flag")
    val e0 = edges.select(col("u"), col("v")).localCheckpoint(true)
    def degOf(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    var e = e0
    var lastKeep = e0.select(col("u").as("n"))
    var prevCount = -1L
    var lastCount = -2L
    for (_ <- 1 to rounds) {
      lastKeep = degOf(e).filter(col("deg") >= k).select(col("n"))
        .localCheckpoint(true)
      prevCount = lastCount
      lastCount = lastKeep.count()
      e = e.join(lastKeep.select(col("n").as("u")), Seq("u"))
        .join(lastKeep.select(col("n").as("v")), Seq("v"))
        .select(col("u"), col("v")).localCheckpoint(true)
    }
    val converged = lastCount == prevCount
    // state after EXACTLY `rounds` rounds: the last keep set with each
    // node's degree in the surviving subgraph (a trailing deg >= k filter
    // would be an extra implicit peel beyond the declared budget)
    lastKeep.join(degOf(e), Seq("n"), "left_outer")
      .selectExpr("n AS user_id", "coalesce(deg, 0L) AS core_deg",
        s"$converged AS converged")
  }

  /** DuckDB mirror of [[assortativity]] over the co-activity edges. */
  def duckAssortativitySql(bucketUs: Long, maxOccupancy: Int,
      table: String = "events"): String =
    s"""WITH ${duckEdgeCtes(bucketUs, maxOccupancy, table)},
       |deg AS (
       |  SELECT n, count(*) AS deg
       |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
       |  GROUP BY 1),
       |p AS (
       |  SELECT a.deg AS x, b.deg AS y
       |  FROM e JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v),
       |both_ AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
       |mo AS (
       |  SELECT count(*) AS m,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(y*y) AS BIGINT) AS syy,
       |    CAST(sum(x*y) AS BIGINT) AS sxy
       |  FROM both_)
       |SELECT m, $AssortExpr FROM mo""".stripMargin

  /** DuckDB mirror of [[kCore]] — the same `rounds` peeling rounds
    * unrolled as CTE levels, same convergence flag. */
  def duckKCoreSql(bucketUs: Long, maxOccupancy: Int, k: Int, rounds: Int,
      table: String = "events"): String = {
    def degSql(eTbl: String) =
      s"""SELECT n, count(*) AS deg
         |  FROM (SELECT u AS n FROM $eTbl UNION ALL SELECT v FROM $eTbl)
         |  GROUP BY 1""".stripMargin
    val levels = (1 to rounds).map { r =>
      val prev = if (r == 1) "e" else s"e${r - 1}"
      s"""keep$r AS MATERIALIZED (
         |  SELECT n FROM (${degSql(prev)}) WHERE deg >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT p.u, p.v FROM $prev p
         |  JOIN keep$r a ON a.n = p.u
         |  JOIN keep$r b ON b.n = p.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckEdgeCtes(bucketUs, maxOccupancy, table)},
       |$levels,
       |conv AS (
       |  SELECT (SELECT count(*) FROM keep$rounds)
       |       = (SELECT count(*) FROM keep${rounds - 1}) AS converged)
       |SELECT kp.n AS user_id,
       |  CAST(coalesce(d.deg, 0) AS BIGINT) AS core_deg,
       |  conv.converged
       |FROM keep$rounds kp
       |LEFT JOIN (${degSql(s"e$rounds")}) d ON d.n = kp.n
       |CROSS JOIN conv""".stripMargin
  }

  /** The shared co-activity edge CTE chain (bu/occ/inb/e). */
  private def duckEdgeCtes(bucketUs: Long, maxOccupancy: Int,
      table: String): String =
    s"""bu AS (
       |  SELECT DISTINCT
       |    epoch_us(CAST(ts AS TIMESTAMP)) // $bucketUs AS bucket,
       |    user_id
       |  FROM $table),
       |occ AS (
       |  SELECT bucket FROM bu GROUP BY 1
       |  HAVING count(*) >= 2 AND count(*) <= $maxOccupancy),
       |inb AS (SELECT bu.* FROM bu JOIN occ USING (bucket)),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
       |  FROM inb a JOIN inb b
       |    ON a.bucket = b.bucket AND a.user_id < b.user_id)""".stripMargin

  /** DuckDB mirror of [[coActivityTriangles]]. */
  def duckSql(bucketUs: Long, maxOccupancy: Int,
      table: String = "events"): String =
    s"""WITH ${duckEdgeCtes(bucketUs, maxOccupancy, table)},
       |deg AS MATERIALIZED (
       |  SELECT n, count(*) AS deg
       |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
       |  GROUP BY 1),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END
       |      AS src,
       |    CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END
       |      AS dst
       |  FROM e
       |  JOIN (SELECT n, deg AS du FROM deg) a ON a.n = e.u
       |  JOIN (SELECT n, deg AS dv FROM deg) b ON b.n = e.v),
       |tri AS (
       |  SELECT e1.src AS p, e1.dst AS x, e2.dst AS y
       |  FROM o e1
       |  JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  JOIN e ON (e.u = e1.dst AND e.v = e2.dst)
       |         OR (e.u = e2.dst AND e.v = e1.dst)),
       |pn AS (
       |  SELECT n, count(*) AS triangles
       |  FROM (SELECT p AS n FROM tri
       |        UNION ALL SELECT x FROM tri
       |        UNION ALL SELECT y FROM tri)
       |  GROUP BY 1)
       |SELECT deg.n AS user_id, CAST(deg.deg AS BIGINT) AS deg,
       |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
       |  CASE WHEN deg.deg < 2 THEN CAST(NULL AS DOUBLE)
       |       ELSE CAST(2 * coalesce(pn.triangles, 0) AS DOUBLE)
       |            / (CAST(deg.deg AS DOUBLE) * CAST(deg.deg - 1 AS DOUBLE))
       |  END AS clustering
       |FROM deg LEFT JOIN pn ON pn.n = deg.n""".stripMargin
}
