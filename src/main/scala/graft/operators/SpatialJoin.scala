package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._

/** Spatial join (point-in-polygon) — the "Spark with spatial extensions"
  * operator of the north star, built composition-first (preference (a) of
  * the custom-operator ladder) instead of a custom strategy:
  *
  *  1. **Blocking**: each polygon explodes to the grid cells its envelope
  *     covers; each point maps to its single cell. The join is an
  *     *equi-join on cell id* — shuffle on a short key, candidate pairs
  *     bounded by cell occupancy, never |points|×|polygons|. This is the
  *     same grid-partitioned design Sedona's range-join strategy implements
  *     as a custom SparkStrategy; expressed with explode+join it inherits
  *     AQE skew handling for free.
  *  2. **Refinement**: exact even-odd ray casting over every ring
  *     ([[st_contains]]) — holes and MultiPolygons fall out of ring parity
  *     naturally. Pure higher-order-function expressions, fully codegen'd.
  *
  * A point lies in exactly one cell, so a (point, polygon) pair is tested
  * at most once — no post-join dedup stage.
  *
  * Cell size trades shuffle width against refinement fan-in: ~the median
  * polygon envelope size is right — it is a caller parameter on every
  * entry point. At 100 TB, persist [[pointCells]]/[[polygonCells]]
  * bucketed on `__cell` and join via [[joinCelled]]: both scans then
  * report hash(`__cell`) partitioning and the join plans SHUFFLE-FREE
  * (round 12; SpatialJoinSpec pins the exchange-free plan).
  *
  * **Coordinate-frame envelope (explicit):** [[st_contains]] and the grid
  * blocking are PLANAR — coordinates are treated as a flat x/y plane, the
  * frame the reference inherits from PostGIS's non-geography operators
  * (from-ground-up.js:73-90) and the correct one for the ATES fixtures
  * (projected/local-extent data). At global lon/lat scale two boundary
  * cases break planarity: polygons crossing the ±180° antimeridian (the
  * stored ring spans numerically "backwards" and planar ray casting reads
  * it inside-out) and polygons enclosing a pole (every meridian crosses
  * the boundary an odd number of times; no planar parity is right).
  * [[st_contains_geo]] handles the antimeridian by re-centering and
  * (round 11) routes pole-adjacent geometry to [[st_contains_sphere]],
  * the meridian-ray winding predicate that answers for pole caps and
  * polar annuli instead of raising; only genuinely degenerate input (an
  * edge spanning exactly 180° of longitude, whose traversal direction is
  * ambiguous) still raises — `SpatialJoinSpec` pins all three regimes.
  */
object SpatialJoin {

  /** Even-odd point-in-geometry test: count ray crossings over every ring
    * of the geometry (works for Polygon with holes and MultiPolygon).
    * PLANAR — see the object scaladoc for the validity envelope; use
    * [[st_contains_geo]] for lon/lat data that may cross ±180°. */
  def st_contains(g: Column, x: Column, y: Column): Column = {
    val rings = flatten(g.getField("coordinates")) // rank-4 → list of rings
    val crossings = aggregate(
      rings,
      lit(0),
      (acc, ring) => acc + size(filter(
        sequence(lit(1), size(ring) - 1),
        i => {
          val xi = element_at(element_at(ring, i), 1)
          val yi = element_at(element_at(ring, i), 2)
          val xj = element_at(element_at(ring, i + 1), 1)
          val yj = element_at(element_at(ring, i + 1), 2)
          ((yi > y) =!= (yj > y)) &&
            (x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        })))
    crossings % 2 === 1
  }

  /** Antimeridian-safe even-odd containment for lon/lat geometries: every
    * longitude is re-centered on the polygon's first vertex via the
    * wrap-to-(−180, 180] map `Δ ↦ ((Δ + 180) mod 360) − 180`, which makes
    * a ring that crosses ±180° numerically continuous again, then the
    * planar ray cast of [[st_contains]] runs in that frame. Exact for any
    * geometry whose total longitude span is < 180° (crossing the seam or
    * not) — beyond that the re-centered vertices can themselves straddle
    * the wrap point. Same codegen'd higher-order-function shape as
    * [[st_contains]]: drop-in as the refinement predicate of
    * [[pointsInPolygons]] when the corpus is global.
    *
    * POLE ROUTING (round 11, replacing the round-10 refusal): geometry
    * detected as pole-adjacent routes to [[st_contains_sphere]] — the
    * meridian-ray winding predicate that is correct for pole caps and
    * polar annuli — instead of raising. Detection is unchanged:
    *  - true pole enclosure at ANY latitude — the ring's wrapped
    *    longitude deltas wind to ±360° (a cap crosses every meridian; no
    *    planar parity is right for it);
    *  - any vertex with |lat| ≥ [[PoleGuardLat]] — within ~0.1° of a
    *    pole the re-centering envelope (total lon span < 180°) collapses
    *    even for non-enclosing rings.
    * The reference inherits CRS-aware geodesic containment from PostGIS
    * (from-ground-up.js:73-90), where pole caps are simply valid; this
    * engine now answers the same inputs (`q_geo_pole` oracles the
    * arithmetic). Only genuinely degenerate input — an edge spanning
    * exactly 180° of longitude — still raises, from inside
    * [[st_contains_sphere]]. `SpatialJoinSpec` pins all three regimes. */
  def st_contains_geo(g: Column, lon: Column, lat: Column): Column = {
    val rings = flatten(g.getField("coordinates"))
    val ref = element_at(element_at(element_at(rings, 1), 1), 1)
    def wrap(d: Column): Column = pmod(d + lit(180.0), lit(360.0)) - 180.0
    def recenter(l: Column): Column = wrap(l - ref)
    val xr = recenter(lon)
    val poleAdjacent = aggregate(
      rings,
      lit(false),
      (acc, ring) => {
        val winding = aggregate(
          sequence(lit(1), size(ring) - 1),
          lit(0.0),
          (a, i) => a + wrap(element_at(element_at(ring, i + 1), 1) -
            element_at(element_at(ring, i), 1)))
        val nearPole = array_max(
          transform(ring, p => abs(element_at(p, 2)))) >= lit(PoleGuardLat)
        acc || abs(winding) > lit(180.0) || nearPole
      })
    val crossings = aggregate(
      rings,
      lit(0),
      (acc, ring) => acc + size(filter(
        sequence(lit(1), size(ring) - 1),
        i => {
          val xi = recenter(element_at(element_at(ring, i), 1))
          val yi = element_at(element_at(ring, i), 2)
          val xj = recenter(element_at(element_at(ring, i + 1), 1))
          val yj = element_at(element_at(ring, i + 1), 2)
          ((yi > lat) =!= (yj > lat)) &&
            (xr < (xj - xi) * (lat - yi) / (yj - yi) + xi)
        })))
    when(poleAdjacent, st_contains_sphere(g, lon, lat))
      .otherwise(crossings % 2 === 1)
  }

  /** Latitude beyond which [[st_contains_geo]] routes to the spherical
    * meridian-ray predicate — the re-centering construction's numerical
    * envelope collapses within ~0.1° of the poles. */
  val PoleGuardLat = 89.9

  /** Pole-capable even-odd containment — the "bent meridian ray" test.
    * Works for ANY lon/lat geometry (pole caps, polar annuli, seam
    * crossers, ordinary polygons) with edges linear in lon/lat (each
    * edge interpolated across its short longitude span — the same edge
    * model as the rest of the planar family, NOT great circles):
    *
    *  1. Anchor `A` = the antipode of the geometry's first vertex,
    *     DECLARED outside (the documented convention — any geometry
    *     spanning less than a hemisphere satisfies it; PostGIS geography
    *     resolves the same sphere-has-no-outside ambiguity with its
    *     "polygon may not exceed half the globe" rule).
    *  2. The test ray runs from `A` down its meridian to the south pole,
    *     then up the point's meridian to `P` — a single path on the
    *     sphere, so even-odd parity of boundary crossings along it
    *     decides containment with no planar projection anywhere.
    *  3. A crossing of meridian `m` is an edge whose per-edge recentered
    *     longitudes straddle 0 within the edge's wrapped (< 180°) span;
    *     its latitude is linear interpolation, counted when strictly
    *     south of the ray's endpoint. Vertex touches count once (the
    *     half-open `(a < 0) ≠ (e < 0)` convention); a meridian-parallel
    *     edge (Δlon = 0) never crosses.
    *
    * Every operation is +, −, ×, ÷ and the wrap-to-[−180, 180) map — no
    * trigonometry — so a SQL oracle replays it bit-for-bit (`q_geo_pole`
    * does, on half-integer fixtures where every wrap is exact).
    *
    * DEGENERATE GUARD: an edge spanning exactly 180° of longitude has no
    * defined short way around (`wrap` returns −180; east and west are
    * equally valid) — the predicate raises on it rather than silently
    * picking a side. Split such edges at an intermediate vertex. */
  def st_contains_sphere(g: Column, lon: Column, lat: Column): Column = {
    val rings = flatten(g.getField("coordinates"))
    def wrap(d: Column): Column = pmod(d + lit(180.0), lit(360.0)) - 180.0
    val first = element_at(element_at(rings, 1), 1)
    val aLon = wrap(element_at(first, 1) + lit(180.0))
    val aLat = -element_at(first, 2)
    def southCrossings(mLon: Column, mLat: Column): Column = aggregate(
      rings,
      lit(0),
      (acc, ring) => acc + size(filter(
        sequence(lit(1), size(ring) - 1),
        i => {
          val xi = element_at(element_at(ring, i), 1)
          val yi = element_at(element_at(ring, i), 2)
          val xj = element_at(element_at(ring, i + 1), 1)
          val yj = element_at(element_at(ring, i + 1), 2)
          val a = wrap(xi - mLon)
          val d = wrap(xj - xi)
          val e = a + d
          val latx = yi + (yj - yi) * (lit(0.0) - a) / d
          ((a < 0) =!= (e < 0)) && (latx < mLat)
        })))
    val degenerate = aggregate(
      rings,
      lit(false),
      (acc, ring) => acc || exists(
        sequence(lit(1), size(ring) - 1),
        i => wrap(element_at(element_at(ring, i + 1), 1) -
          element_at(element_at(ring, i), 1)) === lit(-180.0)))
    when(degenerate, raise_error(lit(
      "st_contains_sphere: degenerate edge spanning exactly 180 degrees " +
        "of longitude (no defined short way around) - split the edge at " +
        "an intermediate vertex")).cast("boolean"))
      .otherwise(
        pmod(southCrossings(lon, lat) + southCrossings(aLon, aLat),
          lit(2)) === 1)
  }

  private def cellId(cx: Column, cy: Column): Column =
    concat_ws(":", cx.cast("long"), cy.cast("long"))

  /** Distance (ε) self-join on a point set: each point joins the 3×3 block
    * of grid cells around it (cellSize ≥ radius guarantees no missed
    * pairs), exact Euclidean filter refines. Same blocking economics as
    * [[pointsInPolygons]]: Σ|cell-block|² candidate pairs, never n². */
  def pointsWithinDistance(
      points: DataFrame, x: Column, y: Column, idCol: Column,
      radius: Double, cellSize: Double): DataFrame = {
    require(cellSize >= radius, "cellSize must be >= radius (3x3 block coverage)")
    val base = points.select(idCol.as("__id"), x.as("__x"), y.as("__y"))
    val cx = floor(col("__x") / cellSize)
    val cy = floor(col("__y") / cellSize)

    // left side explodes to its neighborhood; right side sits in its own cell
    val offsets = Seq(-1, 0, 1)
    val probe = base.select(col("__id").as("id_a"), col("__x").as("xa"),
      col("__y").as("ya"),
      explode(array(offsets.flatMap(dx => offsets.map(dy =>
        cellId(cx + dx, cy + dy))): _*)).as("__cell"))
    val build = base.select(col("__id").as("id_b"), col("__x").as("xb"),
      col("__y").as("yb"), cellId(cx, cy).as("__cell"))

    probe.join(build, "__cell")
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        sqrt(pow(col("xa") - col("xb"), 2) + pow(col("ya") - col("yb"), 2)))
      .filter(col("dist") <= radius)
      .select(col("id_a"), col("id_b"), round(col("dist"), 6).as("dist"))
      .distinct()
  }

  /** The polygon side of the cell-blocked join, exposed so a pipeline
    * can persist it bucketed by `__cell` (see [[joinCelled]]): each
    * polygon exploded to the grid cells its envelope covers, with the
    * geometry carried for refinement. */
  def polygonCells(polygons: DataFrame, polyGeom: Column, polyId: Column,
      cellSize: Double): DataFrame = {
    val cellsOfEnvelope = envelopeWith(polyGeom)(e => flatten(transform(
      sequence(floor(e.getField("xmin") / cellSize),
        floor(e.getField("xmax") / cellSize)),
      cx => transform(
        sequence(floor(e.getField("ymin") / cellSize),
          floor(e.getField("ymax") / cellSize)),
        cy => cellId(cx, cy)))))
    polygons.select(
      polyId.as("polygon_id"), polyGeom.as("__geom"),
      explode(cellsOfEnvelope).as("__cell"))
  }

  /** The point side of the cell-blocked join: every point keyed by its
    * single covering cell. Persist bucketed by `__cell` alongside
    * [[polygonCells]] for the co-located (shuffle-free) join regime. */
  def pointCells(points: DataFrame, x: Column, y: Column,
      cellSize: Double): DataFrame =
    points.withColumn("__x", x).withColumn("__y", y)
      .withColumn("__cell",
        cellId(floor(col("__x") / cellSize), floor(col("__y") / cellSize)))

  /** Equi-join + exact refinement over ALREADY-celled sides (the frames
    * of [[pointCells]] / [[polygonCells]], read from any source). This is
    * the 100 TB co-location seam the object scaladoc promises: when both
    * sides were WRITTEN bucketed on `__cell` (`bucketBy(n, "__cell")` to
    * a table, the standard repeated-spatial-join layout), Spark's
    * bucketing reports each scan's partitioning as hash(`__cell`) and
    * this join plans with NO Exchange on either side — the shuffle that
    * dominates a petabyte-scale spatial join disappears entirely
    * (`SpatialJoinSpec` pins that plan). With unbucketed inputs it
    * degrades gracefully to the ordinary one-shuffle equi-join. */
  def joinCelled(ptCells: DataFrame, polyCells: DataFrame): DataFrame =
    ptCells
      .join(polyCells, "__cell")
      .filter(st_contains(col("__geom"), col("__x"), col("__y")))
      .drop("__cell", "__geom", "__x", "__y")

  /** Join `points` (with x/y columns) to `polygons` (with a geometry
    * column) on containment. Output: all point columns + `polygon_id`.
    * One-shot composition of [[pointCells]] ⋈ [[polygonCells]]; pipelines
    * that join the same layer repeatedly should persist the celled sides
    * bucketed and call [[joinCelled]] directly. */
  def pointsInPolygons(
      points: DataFrame, polygons: DataFrame,
      x: Column, y: Column, polyGeom: Column, polyId: Column,
      cellSize: Double): DataFrame =
    joinCelled(pointCells(points, x, y, cellSize),
      polygonCells(polygons, polyGeom, polyId, cellSize))
}
