package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Snapshot
import graft.sources.Tables

/** Geospatial operators — the query family the reference's
  * `ClaimValueData::GlobeCoordinate { lat, lon, .. }` claims imply
  * (`tables.rs:17-21` carries coordinates through to SurrealDB, which
  * exposes geo::distance etc. over them): within-radius joins,
  * nearest-neighbor-within-radius, and cell density maps.
  *
  * Spark-first shape: NEVER a cross join. Points land in square
  * lat/lon grid cells sized so the radius cannot span more than one
  * neighbor cell (cellDeg = radius / 55 km covers |lat| ≤ 60°, where
  * one lon degree is ≥ 55.6 km); the left side explodes to its 3×3
  * cell stencil and the join runs on cell ids — candidate volume is
  * bounded by local density, and the exact haversine filter prunes
  * the stencil's corners. At 100 TB this is the standard geo-bucket
  * equi-join: one shuffle on 16-byte cell keys, skew-safe as long as
  * no single cell is degenerate (a hot-cell guard would ride the same
  * windowed-count device as the LSH hot-bucket cap).
  *
  * Engine-agreement devices (the corpus conventions): coordinates
  * derive from integer keys via exact integer arithmetic and ONE
  * double division each, the haversine is written with the identical
  * operation order on both engines (one transcendental chain), and
  * every distance comparison happens on the 1e-6-rounded value so a
  * 1-ulp sin/cos divergence cannot flip a boundary pair. No
  * antimeridian wrap: derived lon stays in [-90, 90), stated
  * contract.
  */
object Geo {

  val EarthKm = 6371.0

  /** Deterministic synthetic coordinates from an integer key — the
    * testdata tables carry no geo columns, so the gates derive them
    * (the oracle re-derives identically; the OPERATOR under test is
    * the join/nearest/density machinery, not the data). md5-derived
    * (the corpus's engine-stable pseudo-randomness device — see
    * TextAnalysis.md5Bucket16): a LINEAR congruential derivation put
    * every point on a 1-D lattice, and two linear lattices are either
    * coincident or uniformly far apart — both vacuous gates. The
    * `tag` decorrelates tables sharing key ranges. lat in [-60, 60),
    * lon in [-90, 90): inside the stencil-safe band, away from the
    * antimeridian. */
  private def md5Bits(tag: String, key: Column, pos: Int): Column =
    conv(substring(md5(concat(lit(tag), key.cast("string"))), pos, 4),
      16, 10).cast("long")
  def latOf(tag: String, key: Column): Column =
    (md5Bits(tag, key, 1) % 12000L).cast("double") / 100.0 - 60.0
  def lonOf(tag: String, key: Column): Column =
    (md5Bits(tag, key, 5) % 18000L).cast("double") / 100.0 - 90.0

  /** Haversine distance in km — operation order mirrored verbatim in
    * the oracle SQL (same radians/sin/cos/asin chain). */
  def haversineKm(lat1: Column, lon1: Column,
                  lat2: Column, lon2: Column): Column = {
    val sLat = sin(radians(lat2 - lat1) / 2)
    val sLon = sin(radians(lon2 - lon1) / 2)
    lit(2 * EarthKm) * asin(sqrt(
      sLat * sLat + cos(radians(lat1)) * cos(radians(lat2)) * sLon * sLon))
  }

  /** Distance rounded to 1e-6 km (~1 mm): ALL comparisons and outputs
    * use this value, so both engines decide boundary pairs from the
    * same number. */
  private def distKm6(lat1: Column, lon1: Column,
                      lat2: Column, lon2: Column): Column =
    round(haversineKm(lat1, lon1, lat2, lon2) * 1e6) / 1e6

  /** All (left, right) pairs within `radiusKm`, with the rounded
    * distance. Both inputs: (id, lat, lon). Cell-stencil equi-join —
    * requires radius ≤ 55 km × cellDeg at |lat| ≤ 60, which the
    * cell sizing guarantees by construction. */
  def radiusJoin(left: DataFrame, right: DataFrame,
                 radiusKm: Double): DataFrame = {
    val cellDeg = radiusKm / 55.0
    def cx(c: Column) = floor(c / cellDeg).cast("long")
    val r = right.select(col("id").as("right_id"),
      col("lat").as("rlat"), col("lon").as("rlon"),
      cx(col("lat")).as("cy"), cx(col("lon")).as("cxx"))
    // left explodes to its 3x3 stencil; the join is then a plain
    // equi-join on the (cy, cxx) cell key
    val stencil = array((for (dy <- -1 to 1; dx <- -1 to 1)
      yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    val l = left.select(col("id").as("left_id"),
        col("lat").as("llat"), col("lon").as("llon"))
      .withColumn("s", explode(stencil))
      .select(col("left_id"), col("llat"), col("llon"),
        (cx(col("llat")) + col("s.dy")).as("cy"),
        (cx(col("llon")) + col("s.dx")).as("cxx"))
    l.join(r, Seq("cy", "cxx"))
      .select(col("left_id"), col("right_id"),
        distKm6(col("llat"), col("llon"), col("rlat"), col("rlon"))
          .as("dist_km"))
      .filter(col("dist_km") <= radiusKm)
  }

  /** Nearest right-point within `radiusKm` of each left point that
    * has one — exact (a point's nearest inside ring r with dist ≤ r
    * is its global nearest), deterministic tie-break (rounded
    * distance, then id). Expanding rings rather than one
    * radius-sized stencil: a single 200 km stencil's candidate count
    * grows with the PRODUCT of both sides' densities (measured
    * 0.6 s → 36.8 s across the 100× fixed-geography replicas —
    * PERF_r11), while rings resolve almost every point in a small
    * first ring and only the isolated tail pays larger stencils.
    * Points with no neighbor inside `radiusKm` are absent from the
    * output (same contract as the single-stencil form). */
  def nearestWithin(left: DataFrame, right: DataFrame,
                    radiusKm: Double): DataFrame = {
    def best(cand: DataFrame): DataFrame = cand
      .groupBy(col("left_id"))
      .agg(min(struct(col("dist_km"), col("right_id"))).as("best"))
      .select(col("left_id"), col("best.right_id").as("nearest_id"),
        col("best.dist_km").as("dist_km"))
    // ring snapshots go through Snapshot (write-and-readback), NOT
    // localCheckpoint: checkpoint blocks persist past the returned
    // plan and PersistHygieneSpec pins the registry to zero leaked
    // RDDs. Distinct site per ring — Snapshot reclaims per-site,
    // and every ring's snapshot must outlive the final union.
    //
    // Ring schedule ×4 (r14): per-ring bests are GLOBAL bests at any
    // schedule (the cap argument below), so the schedule is a pure
    // physical knob — ×2 paid ~5 jobs per ring across 4 rings at
    // sf0.1 where ×4 resolves the same queries in 2–3; the candidate
    // sets of the larger early rings stay bounded by local density.
    // The emptiness probe rides the remaining-write
    // ([[Snapshot.counted]], zero extra jobs).
    var remaining = Snapshot(left, "geo_near_rem").df
    var results = List.empty[DataFrame]
    var r = radiusKm / 8
    var ring = 0
    var done = false
    while (!done) {
      val cap = math.min(r, radiusKm)
      // a point's ring-cap nearest has dist <= cap, so nothing outside
      // the ring can beat it: per-ring bests ARE global bests
      val found = Snapshot(
        best(radiusJoin(remaining, right, cap)), s"geo_near_hits_r$ring").df
      results ::= found
      if (cap >= radiusKm) done = true
      else {
        val (rem, nRem) = Snapshot.counted(remaining.join(
          found.select(col("left_id").as("id")), Seq("id"), "left_anti"),
          "geo_near_rem")
        remaining = rem.df
        done = nRem == 0
      }
      r *= 4; ring += 1
    }
    results.reduce(_ unionByName _)
  }

  /** Exact k-nearest-neighbors by expanding-ring search — the
    * cross-join-free exact kNN: ring radius doubles until a query has
    * ≥ k candidates inside it, at which point its in-ring top-k IS
    * its global top-k (any point outside the ring is farther than the
    * in-ring kth). Each ring is one [[radiusJoin]] over the still-
    * unsatisfied queries (monotonically shrinking), so total work is
    * a handful of stencil joins, never |queries| × |points|. Bounded
    * driver loop: ≤ maxRings rings, one emptiness probe each;
    * per-ring results pin via localCheckpoint so plans don't chain.
    * Deterministic ties: (rounded distance, id). Throws if maxRings
    * rings cannot satisfy every query (k > |points| or r0 too small)
    * — an incomplete kNN must fail loudly. */
  def knn(queries: DataFrame, points: DataFrame, k: Int,
          r0Km: Double = 50.0, maxRings: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("left_id"))
      .orderBy(col("dist_km"), col("right_id"))
    // snapshot discipline: see nearestWithin — Snapshot, never
    // localCheckpoint (PersistHygieneSpec), one site per ring.
    // Ring schedule ×4 + observe-counted frontier (r14): a query's
    // in-ring top-k is its GLOBAL top-k at whatever ring first holds
    // ≥ k candidates, so the schedule never changes the output — only
    // how many ring iterations (each ~5 jobs: two snapshot writes plus
    // their exchanges) the straggler tail pays. Measured at sf0.1: 55
    // jobs / 4.2 s warm under ×2 with a per-ring count probe; ×4 with
    // the emptiness test observed on the remaining-write halves both.
    var (remaining, nRem) = Snapshot.counted(queries, "geo_knn_rem")
    var results = List.empty[DataFrame]
    var r = r0Km
    var ring = 0
    while (ring < maxRings && nRem > 0) {
      val cand = radiusJoin(remaining.df, points, r)
      val sat = cand.groupBy(col("left_id"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= k)
        .select(col("left_id"))
      results ::= Snapshot(cand.join(sat, "left_id")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("left_id"), col("right_id"), col("rnk"), col("dist_km")),
        s"geo_knn_hits_r$ring").df
      val (rem, n) = Snapshot.counted(remaining.df
        .join(sat.withColumnRenamed("left_id", "id"), Seq("id"), "left_anti"),
        "geo_knn_rem")
      remaining = rem; nRem = n
      r *= 4; ring += 1
    }
    require(nRem == 0,
      s"knn: queries still unsatisfied after $maxRings rings " +
        s"(outermost radius ${r / 4} km) — k > |points| or r0 too small")
    results.reduce(_ unionByName _)
  }

  /** Grid DBSCAN (Ester et al., KDD'96), per tenant: EXACT density
    * clustering without a cross join. Neighborhoods come from
    * [[radiusJoin]]'s cell-stencil equi-join (completeness proven by
    * the gate's brute-force oracle), core points are those with
    * ≥ minPts neighbors (self included — the standard |N_eps(p)|
    * contract), clusters are connected components over core-core
    * eps-edges ([[Dedup.connectedComponents]]: pointer-jumped
    * min-label, converges or throws), borders attach to the SMALLEST
    * adjacent core cluster (the deterministic refinement of
    * first-discovered-wins), everything else is noise (cluster -1).
    *
    * Tenant scoping (`tenant = id / tenantBlock`): clustering runs
    * within key blocks, never across them — the multi-tenant form
    * every per-customer/per-region clustering job needs, and what
    * keeps a FIXED eps meaningful under the rehearsal's
    * fixed-geography replication (each 10× replica densifies the
    * same sphere; unscoped, any eps either percolates into one
    * giant component at 10× or is vacuous at 1× — measured: 800 km
    * is avg-degree 2.1 at 1×, 138 at 10× unscoped, 13.9 per tenant).
    *
    * Scale shape: one stencil equi-join for neighborhoods (the
    * radiusJoin shape), one count aggregate, CC over the core-core
    * edge set only (≪ corpus; each round a narrow edge-set shuffle),
    * one border min-aggregate. Components are bounded by tenant
    * size, so the closure the oracle must restate stays polynomial. */
  def dbscan(points: DataFrame, epsKm: Double, minPts: Int,
             tenantBlock: Long = 1000000000L): DataFrame = {
    val pts = points.select(col("id"), col("lat"), col("lon"))
    val sameTenant =
      floor(col("left_id") / tenantBlock.toDouble).cast("long") ===
        floor(col("right_id") / tenantBlock.toDouble).cast("long")
    // nbr feeds three consumers (core counts, core-core edges, border
    // attachment) and recomputes for each — measured CHEAPER than
    // snapshotting: materializing nbr+core via write-and-readback was
    // 20.7 s vs 13.4 s at 1× and 28.3 s vs 22.3 s at 10× (the stencil
    // join is a cheap map-side explode + equi-join; the snapshot
    // write/commit jobs cost more than three recomputes)
    val nbr = radiusJoin(pts, pts, epsKm).filter(sameTenant)
    val core = nbr.groupBy(col("left_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= minPts)
      .select(col("left_id").as("id"))
    val edges = nbr
      .join(core.select(col("id").as("left_id")), "left_id")
      .join(core.select(col("id").as("right_id")), "right_id")
      .filter(col("left_id") =!= col("right_id"))
      .select(col("left_id"), col("right_id"))
    val coreLab = core
      .join(Dedup.connectedComponents(edges)
        .select(col("doc_id").as("id"), col("component")), Seq("id"), "left")
      // isolated cores (≥ minPts borders, zero core neighbors) are
      // their own cluster
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val borderLab = nbr
      .join(coreLab.select(col("id").as("right_id"), col("cluster")),
        "right_id")
      .join(core.select(col("id").as("left_id")), Seq("left_id"), "left_anti")
      .groupBy(col("left_id")).agg(min(col("cluster")).as("cluster"))
      .select(col("left_id").as("id"), col("cluster"))
    val assigned = coreLab.withColumn("role", lit("core"))
      .unionByName(borderLab.withColumn("role", lit("border")))
    val noise = pts.select(col("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(-1L).as("cluster"), lit("noise").as("role"))
    assigned.unionByName(noise)
      .select(col("id"),
        floor(col("id") / tenantBlock.toDouble).cast("long").as("tenant"),
        col("role"), col("cluster"))
  }

  /** Per-cell point counts at `cellDeg` resolution — the density-map
    * aggregation (one map-side-combined shuffle of cell keys). */
  def cellDensity(points: DataFrame, cellDeg: Double): DataFrame =
    points.groupBy(
        floor(col("lat") / cellDeg).cast("long").as("cy"),
        floor(col("lon") / cellDeg).cast("long").as("cxx"))
      .agg(count(lit(1)).as("n"))

  // ------------------------------------------------------- queries //

  private def customers(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(col("c_custkey").as("id"),
      latOf("c", col("c_custkey")).as("lat"),
      lonOf("c", col("c_custkey")).as("lon"))

  private def suppliers(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "supplier").select(col("s_suppkey").as("id"),
      latOf("s", col("s_suppkey")).as("lat"),
      lonOf("s", col("s_suppkey")).as("lon"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_geo_radius" -> ((s, dir) =>
      radiusJoin(customers(s, dir), suppliers(s, dir), 50.0)),
    "q_geo_nearest" -> ((s, dir) =>
      nearestWithin(customers(s, dir), suppliers(s, dir), 200.0)),
    "q_geo_density" -> ((s, dir) =>
      cellDensity(customers(s, dir), 10.0)),
    // suppliers query the customer set: ring 1 (400 km) satisfies
    // ~half the queries at sf0.01 density, so the gate exercises the
    // multi-ring path, not just one radius join. The query set is the
    // deterministic 1-in-10 supplier sample: the ORACLE is a brute
    // cross product, and at the 10x rehearsal the unsampled form's
    // 1.5e9-pair window sort OOMs DuckDB (the engine side is fine —
    // the expanding-ring search never builds that product). Same
    // device as p_entity_resolution's oracle.
    // r0 sized to the corpus's expected 3-NN distance (~300 km at
    // sf0.1 density: 15k points over the ±60°×±90° band): a 50 km
    // first ring resolves almost no query and just adds two snapshot
    // writes per wasted ring. The output is ring-schedule-independent
    // (in-ring top-k = global top-k once ≥ k candidates land), so
    // this is a pure physical knob; the ring doubling still covers
    // the isolated tail and densified replicas only resolve EARLIER.
    "q_geo_knn" -> ((s, dir) =>
      knn(suppliers(s, dir).filter(col("id") % 10 === 0),
        customers(s, dir), k = 3, r0Km = 100.0)),
    // the 1-in-10 customer sample (the knn oracle's device) keeps the
    // brute all-pairs oracle inside DuckDB's budget at the 10×
    // rehearsal; eps/minPts tuned so the base gate has all three
    // roles (14 cores / 150 points at sf0.01)
    "q_geo_dbscan" -> ((s, dir) =>
      dbscan(customers(s, dir).filter(col("id") % 10 === 0),
        epsKm = 800.0, minPts = 4)))

  // -------------------------------------------------------- oracle //

  // identical derivation + identical haversine chain; the oracle is
  // the brute-force all-pairs restatement, so hash equality PROVES
  // the stencil join is complete (no within-radius pair escapes a
  // neighbor cell) as well as value-correct
  private def pts(table: String, key: String, tag: String) =
    s"(SELECT $key AS id, " +
    s"CAST(CAST(('0x' || substring(md5('$tag' || CAST($key AS VARCHAR)), 1, 4)) AS INTEGER) % 12000 AS DOUBLE) / 100.0 - 60.0 AS lat, " +
    s"CAST(CAST(('0x' || substring(md5('$tag' || CAST($key AS VARCHAR)), 5, 4)) AS INTEGER) % 18000 AS DOUBLE) / 100.0 - 90.0 AS lon " +
    s"FROM $table)"
  private val custPts = pts("customer", "c_custkey", "c")
  private val suppPts = pts("supplier", "s_suppkey", "s")
  private def hav(l1: String, o1: String, l2: String, o2: String) =
    s"round(2 * 6371.0 * asin(sqrt(sin(radians($l2 - $l1) / 2) * sin(radians($l2 - $l1) / 2) + " +
    s"cos(radians($l1)) * cos(radians($l2)) * sin(radians($o2 - $o1) / 2) * sin(radians($o2 - $o1) / 2))) * 1e6) / 1e6"

  /** Complete within-radius candidate generation for the oracles,
    * replacing the r11 cross products that outgrew DuckDB at the 100×
    * rehearsal (1.5M × 150k = 2.25·10¹¹ haversines). Degree-grid
    * banding, DELIBERATELY different geometry from the engine's
    * radius-derived haversine cells (static floor(lat/latBand),
    * floor(lon/lonBand) grid, ±1 stencil on the left side), so the
    * two implementations stay independent. Completeness is elementary:
    * a pair within R km has central angle ≥ |Δlat|·π/180, so
    * |Δlat| ≤ R/111.195 km/deg; and hav ≥ 2R⊕·√(cosφ₁cosφ₂)·sin(Δλ/2)
    * with cosφ ≥ cos 60° = 0.5 on this corpus's lat ∈ [-60, 60) band,
    * so |Δlon| ≤ 2·asin(R/6371)·180/π. Each oracle's band widths
    * strictly exceed those bounds (checked in the per-entry comments),
    * and |Δ| < band ⇒ band indices differ by ≤ 1, so the ±1 stencil
    * cannot miss a pair. The exact 1e-6-rounded haversine filter then
    * decides membership, identically to before. A right point has ONE
    * cell and the left's 9 stencil keys are distinct, so no pair
    * duplicates. */
  private def bandedPairsSql(leftPts: String, rightPts: String,
                             radiusKm: Double, latBand: Int,
                             lonBand: Int): String =
    s"lb AS MATERIALIZED (SELECT id, lat, lon FROM $leftPts), " +
      s"rb AS MATERIALIZED (SELECT id, lat, lon, CAST(floor(lat / $latBand.0) AS BIGINT) AS by, CAST(floor(lon / $lonBand.0) AS BIGINT) AS bx FROM $rightPts), " +
      s"ls AS (SELECT l.id, l.lat, l.lon, CAST(floor(l.lat / $latBand.0) AS BIGINT) + dy.d AS by, CAST(floor(l.lon / $lonBand.0) AS BIGINT) + dx.d AS bx FROM lb l, (VALUES (-1), (0), (1)) AS dy(d), (VALUES (-1), (0), (1)) AS dx(d)), " +
      s"pr AS MATERIALIZED (SELECT left_id, right_id, dist_km FROM (SELECT ls.id AS left_id, rb.id AS right_id, ${hav("ls.lat", "ls.lon", "rb.lat", "rb.lon")} AS dist_km FROM ls JOIN rb USING (by, bx)) WHERE dist_km <= $radiusKm)"

  val oracle: Map[String, String] = Map(
    // 50 km: |Δlat| ≤ 0.450, |Δlon| ≤ 0.900 — 1°×1° bands suffice
    "q_geo_radius" ->
      (s"WITH ${bandedPairsSql(custPts, suppPts, 50.0, 1, 1)} " +
        "SELECT left_id, right_id, dist_km FROM pr"),
    // 200 km: |Δlat| ≤ 1.799 < 2, |Δlon| ≤ 3.598 < 4
    "q_geo_nearest" ->
      (s"WITH ${bandedPairsSql(custPts, suppPts, 200.0, 2, 4)}, " +
        "m AS (SELECT left_id, min(dist_km) AS dist_km FROM pr GROUP BY left_id) " +
        // ties break to the smallest id among minimum-distance pairs —
        // the same total order as Spark's min(struct(dist, id))
        "SELECT pr.left_id, min(pr.right_id) AS nearest_id, m.dist_km " +
        "FROM pr JOIN m ON pr.left_id = m.left_id AND pr.dist_km = m.dist_km " +
        "GROUP BY pr.left_id, m.dist_km"),
    "q_geo_density" ->
      ("SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cy, " +
        "CAST(floor(lon / 10.0) AS BIGINT) AS cxx, count(*) AS n " +
        s"FROM $custPts GROUP BY 1, 2"),
    // DBSCAN: neighborhoods from the degree-grid banded pairs (see
    // bandedPairsSql; eps 800 km → |Δlat| ≤ 7.195 < 8, |Δlon| ≤
    // 14.453 < 16, tenant equality on the band join), clusters by
    // recursive transitive closure over core-core edges (the
    // d_components oracle device), borders to the min adjacent core
    // cluster, noise -1. The closure, border, and role logic are
    // untouched — only the r11 per-tenant cross product (which hit
    // the 100× oracle budget) became a banded equi-join.
    "q_geo_dbscan" ->
      (s"WITH RECURSIVE p AS MATERIALIZED (SELECT * FROM $custPts WHERE id % 10 = 0), " +
        "gb AS MATERIALIZED (SELECT id, lat, lon, id // 1000000000 AS tnt, CAST(floor(lat / 8.0) AS BIGINT) AS by, CAST(floor(lon / 16.0) AS BIGINT) AS bx FROM p), " +
        "gs AS (SELECT g.id, g.lat, g.lon, g.tnt, g.by + dy.d AS by, g.bx + dx.d AS bx FROM gb g, (VALUES (-1), (0), (1)) AS dy(d), (VALUES (-1), (0), (1)) AS dx(d)), " +
        s"nbr AS MATERIALIZED (SELECT ia, ib FROM (SELECT gs.id AS ia, gb.id AS ib, ${hav("gs.lat", "gs.lon", "gb.lat", "gb.lon")} AS dk FROM gs JOIN gb ON gb.tnt = gs.tnt AND gb.by = gs.by AND gb.bx = gs.bx) WHERE dk <= 800.0), " +
        "core AS MATERIALIZED (SELECT ia AS id FROM (SELECT ia, count(*) AS n FROM nbr GROUP BY ia) WHERE n >= 4), " +
        "edges AS MATERIALIZED (SELECT n.ia AS a, n.ib AS b FROM nbr n JOIN core x ON n.ia = x.id JOIN core y ON n.ib = y.id WHERE n.ia <> n.ib), " +
        "reach(node, label) AS (SELECT id, id FROM core UNION SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node), " +
        "comp AS MATERIALIZED (SELECT node AS id, min(label) AS cluster FROM reach GROUP BY node), " +
        "border AS MATERIALIZED (SELECT n.ia AS id, min(c.cluster) AS cluster FROM nbr n JOIN comp c ON c.id = n.ib " +
        "WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY n.ia) " +
        "SELECT id, id // 1000000000 AS tenant, role, cluster FROM (" +
        "SELECT id, 'core' AS role, cluster FROM comp " +
        "UNION ALL SELECT id, 'border' AS role, cluster FROM border " +
        "UNION ALL SELECT id, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster FROM p " +
        "WHERE id NOT IN (SELECT id FROM comp) AND id NOT IN (SELECT id FROM border))"),
    // EXACT kNN without the 1.5·10¹⁰-pair window the r11 brute form
    // built: two-phase. Phase 1 bands candidates within R0 = 400 km
    // (|Δlat| ≤ 3.598 < 4, |Δlon| ≤ 7.204 < 8); any query with ≥ k
    // TRUE-distance-≤ R0 candidates has its global top-k inside that
    // set (the k-th nearest is ≤ R0 away, and banding is complete to
    // R0). Phase 2 full-scans only the queries phase 1 left
    // unsatisfied (none at gate density — the term exists for
    // unconditional exactness). Identical rounded-distance ranking
    // and (dist, id) tie-break as before.
    "q_geo_knn" ->
      (s"WITH ${bandedPairsSql(s"(SELECT * FROM $suppPts WHERE id % 10 = 0)", custPts, 400.0, 4, 8)}, " +
        "sat AS (SELECT left_id FROM pr GROUP BY left_id HAVING count(*) >= 3), " +
        s"fb AS (SELECT s.id AS left_id, c.id AS right_id, ${hav("s.lat", "s.lon", "c.lat", "c.lon")} AS dist_km " +
        s"FROM (SELECT * FROM $suppPts WHERE id % 10 = 0) s, $custPts c " +
        "WHERE s.id NOT IN (SELECT left_id FROM sat)), " +
        "un AS (SELECT left_id, right_id, dist_km FROM pr WHERE left_id IN (SELECT left_id FROM sat) " +
        "UNION ALL SELECT left_id, right_id, dist_km FROM fb), " +
        "ranked AS (SELECT left_id, right_id, dist_km, row_number() OVER (PARTITION BY left_id ORDER BY dist_km, right_id) AS rnk FROM un) " +
        "SELECT left_id, right_id, CAST(rnk AS INTEGER) AS rnk, dist_km FROM ranked WHERE rnk <= 3"))
}
