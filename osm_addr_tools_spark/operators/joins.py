"""Composite spatial join operators (SURVEY.md §2.4, J1–J8).

Everything is expressed as DataFrame-level plan construction — equi-joins on
int64 cell keys plus residual Column predicates — so Catalyst keeps full
control of physical strategy (broadcast vs sort-merge vs shuffled-hash) and
AQE can re-plan at runtime. No RDDs, no collect() on data paths, no custom
Strategy: the scale story (BASELINE north_rule: explicit partitioning /
shuffle / skew handling at 10^12 docs) lives in:

  * cell-bucketed candidate generation (J1/J4/J5) — turns every spatial
    predicate into an equi-join Catalyst can shuffle-plan;
  * two-pass salting (J3) — hot-cell histogram job → per-key salt factors
    broadcast back, bounding task size under urban skew (AQE skew-split
    only covers sort-merge joins, so this is deliberate app-level logic);
  * exactness assertions carried at plan-build time (kNN level sizing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.functions import geo as G

# ---------------------------------------------------------------------------
# UDF wrappers over the cell kernels (Arrow-batched, never per-row)
# ---------------------------------------------------------------------------


def cell_encode_udf(level: int):
    """(lon, lat) → cell id at ``level``; null when lon or lat is null,
    NaN or ±inf (a non-finite point has no cell, so equi-joins and
    ``explode`` drop it instead of piling every such row onto one key).
    Returns a function of two Columns."""

    @pandas_udf("long")
    def enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        x = lon.to_numpy(np.float64)
        y = lat.to_numpy(np.float64)
        ok = np.isfinite(x) & np.isfinite(y)
        out = C.cell_encode(np.where(ok, x, 0.0), np.where(ok, y, 0.0), level)
        return pd.Series(pd.arrays.IntegerArray(out, ~ok))

    # asNondeterministic: the kernel IS deterministic; the marker only
    # fences the optimizer, which otherwise pushes inferred join-key
    # predicates (isnotnull(_cell)) BELOW the projection and re-evaluates
    # the UDF once under the filter and once above it. Without it
    # test_python_udf_evaluation_counts fails: enc 2 → 3 in
    # geo_knn_nearest_supplier, 7 → 13 in salted run_conflate. The blocked
    # pushdowns all reference the UDF output itself, so nothing that could
    # reach the parquet scan is lost.
    fenced = enc.asNondeterministic()
    # double at the boundary: decimal coordinates would reach pandas as
    # Decimal objects that to_numpy converts one at a time. On double
    # inputs the optimizer drops the cast (SimplifyCasts).
    return lambda lon, lat: fenced(lon.cast("double"), lat.cast("double"))


def cell_parent_udf(level: int):
    """cell → ancestor id at ``level`` (C2; pure id arithmetic kernel).
    The input must not be null (see ``_NO_CELL``)."""

    @pandas_udf("long")
    def parent(cell: pd.Series) -> pd.Series:
        out = C.cell_parent(cell.to_numpy(np.int64).astype(np.uint64), level)
        return pd.Series(out.astype(np.int64))

    return parent


# Stand-in for a null cell on its way into the ring kernel: Arrow hands
# pandas a nullable int64 column as float64, which cannot hold 64-bit cell
# ids exactly, so nulls are swapped out JVM-side. Face bits 0b111: no real
# cell has this id.
_NO_CELL = -1


def cell_ring_udf(r: int):
    """cell → array of all same-level cells within Chebyshev distance r,
    including the cell itself ((2r+1)² block, face-wrap correct); null for
    a null cell. Returns a function of one column (name or Column)."""

    @pandas_udf("array<long>")
    def ring(cell: pd.Series) -> pd.Series:
        c = cell.to_numpy(np.int64)
        ok = c != _NO_CELL
        rings = iter(C.cell_ring(c[ok], r))
        return pd.Series([next(rings) if k else None for k in ok], dtype=object)

    return lambda cell: ring(F.coalesce(cell, F.lit(_NO_CELL)))


def cell_center_udf():
    """cell → struct(lon, lat) of the cell center (C1 inverse). The input
    must not be null (see ``_NO_CELL``)."""

    @pandas_udf("struct<lon:double,lat:double>")
    def center(cell: pd.Series) -> pd.DataFrame:
        lon, lat = C.cell_center_lonlat(cell.to_numpy(np.int64))
        return pd.DataFrame({"lon": lon, "lat": lat})

    return center


def _list_array(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    """A polygon UDF's list result. The polygon UDFs are arrow_udfs that read
    their batch through C.read_polygons: no polygon becomes a pandas object,
    so rings of different lengths need no common shape."""
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(values))


def cover_polygon_udf(level: int):
    """rings (array<array<struct<lon,lat>>>) → array<long> cover cells."""

    @arrow_udf("array<long>")
    def cov(rings: pa.Array) -> pa.Array:
        return _list_array(*C.cover_batch(*C.read_polygons(rings), level))

    return cov


def rings_to_edges_udf():
    """rings → flat edge array [xa,ya,xb,yb]×n over ALL rings (C.polygon_edges)."""

    @arrow_udf("array<double>")
    def to_edges(rings: pa.Array) -> pa.Array:
        return _list_array(*C.polygon_edges(*C.read_polygons(rings)))

    return to_edges


def cover_and_edges_udf(level: int):
    """rings → struct(cover array<long>, edges array<double>): ONE Arrow
    pass and ONE read of the polygon buffers feeds both the candidate
    generator (cover cells) and the exact refine kernel (flat edges)."""

    @arrow_udf("struct<cover:array<long>,edges:array<double>>")
    def both(rings: pa.Array) -> pa.Array:
        polys = C.read_polygons(rings)
        return pa.StructArray.from_arrays(
            [_list_array(*C.cover_batch(*polys, level)), _list_array(*C.polygon_edges(*polys))],
            names=["cover", "edges"],
        )

    # see cell_encode_udf: without the fence, the explode's inferred
    # size(cover) > 0 predicate is pushed below the projection and THE
    # HEAVIEST UDF OF THE CONTAINMENT JOIN runs again per polygon
    # (test_python_udf_evaluation_counts: both 4 → 9 in
    # geo_building_supplier_overlap, 1 → 4 in conflate_matches)
    return both.asNondeterministic()


def pip_udf():
    """(lon, lat, edges) → bool exact even-odd ray cast (J4 refine); False
    for a null or empty ``edges`` row.

    Fully batch-vectorized: the batch's edge values are one flat
    (total_edges, 4) buffer with row offsets; crossings count per row via
    bincount; parity decides containment. Zero per-row Python. Each point
    is shifted by a multiple of 360° into the frame of its row's first
    edge (C.polygon_edges), so containment holds across lon ±180.
    Precondition: each polygon is under 180° wide in longitude.
    """

    @arrow_udf("boolean")
    def pip(lon: pa.Array, lat: pa.Array, edges: pa.Array) -> pa.Array:
        n = len(lon)
        # a decimal column (lon/lat as SQL arithmetic) arrives as decimals
        px = lon.cast("float64").to_numpy(zero_copy_only=False)
        py = lat.cast("float64").to_numpy(zero_copy_only=False)
        off = C.list_offsets(edges) // 4
        xa, ya, xb, yb = edges.flatten().to_numpy(zero_copy_only=False).reshape(-1, 4).T
        row_idx = np.repeat(np.arange(n), np.diff(off))
        pyr = py[row_idx]
        pxr = px[row_idx]
        x0 = xa[off[:-1][row_idx]]
        pxr = pxr + 360.0 * np.round((x0 - pxr) / 360.0)
        crosses = (ya > pyr) != (yb > pyr)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (pyr - ya) * (xb - xa) / (yb - ya)
        hit = crosses & (pxr < xint)
        parity = np.bincount(row_idx[hit], minlength=n) & 1
        return pa.array(parity.astype(bool))

    return pip


def with_cell(df: DataFrame, level: int, lon: str = "lon", lat: str = "lat",
              out: str = "cell") -> DataFrame:
    return df.withColumn(out, cell_encode_udf(level)(F.col(lon), F.col(lat)))


# ---------------------------------------------------------------------------
# J3 — two-pass salted skew-safe join
# ---------------------------------------------------------------------------

DEFAULT_HOT_THRESHOLD = 50_000
DEFAULT_ROWS_PER_TASK = 25_000
MAX_SALT = 64


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_salt_col: Column,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    rows_per_task: int = DEFAULT_ROWS_PER_TASK,
    max_salt: int = MAX_SALT,
) -> DataFrame:
    """Equi-join on ``key`` with per-key salting for hot keys (J3).

    Pass 1 computes the hot-key histogram on the probe (big) side; keys above
    ``hot_threshold`` get salt factor ceil(cnt/rows_per_task) ≤ max_salt.
    Probe rows get ``salt = pmod(hash(probe_salt_col), S)``; build rows for
    hot keys are replicated ×S via ``sequence``+``explode``. Non-hot keys
    keep salt 0 on both sides, so the result is row-identical to the
    unsalted join (property-tested).

    The histogram job is a cheap partial-agg scan; the factors table is tiny
    (only hot keys) and broadcast. This complements AQE's skew split, which
    only applies to sort-merge joins post-shuffle.

    Inner join only: under right/full semantics each UNMATCHED replicated
    build row would be emitted once per salt value after ``_salt`` is
    dropped.
    """
    hot = (
        probe.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") > hot_threshold)
        .select(
            key,
            F.least(
                F.ceil(F.col("_cnt") / F.lit(rows_per_task)), F.lit(max_salt)
            ).cast("int").alias("_sf"),
        )
    )
    p = (
        probe.join(F.broadcast(hot), key, "left")
        .withColumn(
            "_salt",
            F.when(F.col("_sf").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(probe_salt_col), F.col("_sf")).cast("int")
            ),
        )
        .drop("_sf")
    )
    b = (
        build.join(F.broadcast(hot), key, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_sf").isNull(), F.array(F.lit(0))
                ).otherwise(F.sequence(F.lit(0), F.col("_sf") - 1))
            ),
        )
        .drop("_sf")
    )
    # shuffle_hash hint: the build side flows from UDF-heavy subtrees whose
    # static size estimates are unreliable — a wrong initial broadcast
    # serializes hundreds of MB through the driver (measured 58 s at 600k
    # rows). Forcing shuffle keeps it distributed; AQE still downgrades to
    # broadcast at runtime when the ACTUAL size is small.
    return p.join(b.hint("shuffle_hash"), [key, "_salt"]).drop("_salt")


# ---------------------------------------------------------------------------
# candidate pairs — the one key join of the pair families
# ---------------------------------------------------------------------------


def key_pairs(left: DataFrame, keys: list[str], right: DataFrame | None = None) -> DataFrame:
    """Distinct ``(a, b)`` id pairs that share a value of ``keys``:
    ``left`` and ``right`` are ``(id, *keys)`` frames (the id is the first
    column), ``a`` comes from ``left`` and ``b`` from ``right``.
    ``right=None`` self-joins ``left`` and keeps ``a < b``. The candidate
    generator of the MinHash, SimHash, semantic-LSH and polygon-overlap
    joins; each keys its own frame and verifies its own pairs.

    Candidates travel light (VERDICT r2 #8): only ids and keys flow
    through the key join and the pair dedup, because a pair sharing many
    keys (bands, subset masks, cover cells) would otherwise drag its
    payload (signatures, fingerprints, vectors, edge arrays) through every
    duplicate. Callers re-join the payload by id once per side, for the
    exact check only: two id-sized shuffles instead of payloads the size
    of the duplicated pairs.

    The key join carries a ``shuffle_hash`` hint on the right side: both
    sides flow from UDF-heavy subtrees whose static size estimate is
    unreliable, and a misestimated broadcast of a key-exploded table goes
    through the driver; AQE still converts to broadcast from the real
    post-shuffle size.
    """
    lhs = left.select(F.col(left.columns[0]).alias("a"), *keys)
    other = left if right is None else right
    rhs = other.select(F.col(other.columns[0]).alias("b"), *keys)
    cand = lhs.join(rhs.hint("shuffle_hash"), keys)
    if right is None:
        cand = cand.where(F.col("a") < F.col("b"))
    return cand.select("a", "b").dropDuplicates(["a", "b"])


# ---------------------------------------------------------------------------
# J4 — point-in-polygon containment join
# ---------------------------------------------------------------------------


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    level: int,
    lon: str = "lon",
    lat: str = "lat",
    rings: str = "rings",
    salt: bool = False,
    **salt_kw,
) -> DataFrame:
    """Pair each point with every polygon containing it (J4).

    Candidates: polygon cover cells at ``level`` (C4 cover ⊇ every cell that
    contains an interior point ⇒ no false negatives) equi-joined against
    point cells at the same level; refined by the exact ray-cast test.
    Output: points' columns + the polygons' columns (inner join).
    """
    pts = with_cell(points, level, lon, lat, "_cell")
    # one Arrow pass over polygons computes cover cells AND the flat edge
    # array; rings never travel through the join (smaller shuffle payload,
    # no nested-struct unpacking in the refine kernel)
    polys = polygons.withColumn("_ce", cover_and_edges_udf(level)(F.col(rings))).drop(rings)
    polys = polys.select("*", F.col("_ce.cover").alias("_cover"),
                         F.col("_ce.edges").alias("_edges")).drop("_ce")
    polys = polys.withColumn("_cell", F.explode("_cover")).drop("_cover")
    if not salt:
        # see salted_join: never let a static misestimate broadcast the
        # cover-exploded polygon side through the driver
        polys = polys.hint("shuffle_hash")
    if salt:
        cand = salted_join(pts, polys, "_cell", F.col(lon), **salt_kw)
    else:
        cand = pts.join(polys, "_cell")
    return (
        cand.where(pip_udf()(F.col(lon), F.col(lat), F.col("_edges")))
        .drop("_cell", "_edges")
    )


# ---------------------------------------------------------------------------
# J9 — polygon-polygon intersection join
# ---------------------------------------------------------------------------


def polygons_intersect_udf():
    """(edges_a, edges_b) → bool: do two polygons (with holes, even-odd)
    share interior? Strict-interior semantics: boundary-touching polygons
    (shared edge or corner, no shared interior) do NOT pair — mirroring
    the oracle's strict interval inequalities. Adjacent buildings share
    walls, i.e. exact coordinates, so the decision is exact on touching
    configurations too.

    Batch shape: per candidate pair, the edge sets broadcast to an
    (m × k) orientation grid — all-numpy inner math, bounded by polygon
    vertex counts (≤ ~240 in the stress fixtures), so the per-pair Python
    overhead is constant like the F3 similarity refine. A pair is True on
    a PROPER edge crossing, or when the first vertex of one polygon lies
    off the other's boundary and strictly inside it. Only pairs
    exhibiting an exact boundary degeneracy (a vertex probe on the other
    boundary, or some orientation in the grid exactly 0 with overlapping
    extents) enter the tie-break, which is COMPLETE for
    bit-exactly-representable degeneracies:

    * split every edge of one polygon at all its intersections with the
      other's boundary (point touches and collinear-overlap interval
      endpoints included) — each resulting open sub-segment lies entirely
      inside, outside, or on the other boundary, so its midpoint decides
      membership; any sub-segment midpoint strictly interior ⇒ shared
      interior (and symmetrically);
    * if neither boundary enters the other's interior, the interiors are
      nested-or-disjoint: probe a constructed strictly-interior point of
      each polygon (lowest scanline interval through an x strictly
      between two distinct vertex x's — never through a vertex) against
      the other. Handles identical polygons / shared-extent rectangles.

    Exactness caveat: orientation signs are float; degeneracies are
    detected when the cross product is EXACTLY zero (true for integer or
    dyadic coordinates of modest magnitude). Near-degenerate coordinates
    within float rounding remain undefined, as with any
    non-exact-arithmetic kernel. B is first shifted by a multiple of 360°
    into A's frame, so pairs across lon ±180 decide like any other
    (precondition: each polygon is under 180° wide in longitude).
    Fixtures pin the policy:
    tests/test_polygon_touch.py (shared edge → False, shared corner →
    False, identical → True, T-touch → False, contained-sharing-an-edge →
    True, partial edge overlap with interior overlap → True).
    """

    def _cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    def _point_in(px, py, e):
        xa, ya, xb, yb = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        crosses = (ya > py) != (yb > py)
        if not crosses.any():
            return False
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (py - ya) * (xb - xa) / (yb - ya)
        return bool((crosses & (px < xint)).sum() & 1)

    def _on_boundary(px, py, e):
        xa, ya, xb, yb = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        cr = (xb - xa) * (py - ya) - (yb - ya) * (px - xa)
        inbox = (
            (np.minimum(xa, xb) <= px)
            & (px <= np.maximum(xa, xb))
            & (np.minimum(ya, yb) <= py)
            & (py <= np.maximum(ya, yb))
        )
        return bool(((cr == 0) & inbox).any())

    def _strictly_in(px, py, e):
        """True iff strictly interior; False if outside OR on boundary."""
        return (not _on_boundary(px, py, e)) and _point_in(px, py, e)

    def _interior_point(e):
        """A point strictly inside the polygon (holes respected): lowest
        even-odd scanline interval through an x strictly between two
        distinct vertex x's — the line passes through no vertex, so every
        crossing is transversal."""
        xs = np.unique(np.concatenate([e[:, 0], e[:, 2]]))
        xa, ya, xb, yb = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        for i in range(len(xs) - 1):
            x = (xs[i] + xs[i + 1]) / 2.0
            hit = (xa < x) != (xb < x)
            if hit.sum() < 2:
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                ys = ya[hit] + (x - xa[hit]) * (yb[hit] - ya[hit]) / (xb[hit] - xa[hit])
            ys = np.sort(ys)
            return x, (ys[0] + ys[1]) / 2.0
        return None

    def _boundary_probe(src, other):
        """Does ∂src enter the strict interior of ``other``? Split each
        src edge at every intersection with ∂other; probe sub-segment
        midpoints. Python loop over src edges (tie-break only), numpy
        over other's edges inside."""
        oxa, oya, oxb, oyb = other[:, 0], other[:, 1], other[:, 2], other[:, 3]
        for px, py, qx, qy in src:
            dex, dey = qx - px, qy - py
            if dex == 0 and dey == 0:
                continue
            dfx, dfy = oxb - oxa, oyb - oya
            denom = dex * dfy - dey * dfx
            apx, apy = oxa - px, oya - py
            ts = [0.0, 1.0]
            with np.errstate(divide="ignore", invalid="ignore"):
                t = (apx * dfy - apy * dfx) / denom
                u = (apx * dey - apy * dex) / denom
                cross_hit = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
            ts.extend(t[cross_hit].tolist())
            # collinear overlaps: project the other edge's endpoints onto e
            col = (denom == 0) & (apx * dey - apy * dex == 0)
            if col.any():
                ee = dex * dex + dey * dey
                ta = ((oxa[col] - px) * dex + (oya[col] - py) * dey) / ee
                tb = ((oxb[col] - px) * dex + (oyb[col] - py) * dey) / ee
                for v in np.concatenate([ta, tb]).tolist():
                    if 0.0 < v < 1.0:
                        ts.append(v)
            ts = sorted(set(ts))
            for t0, t1 in zip(ts, ts[1:]):
                tm = (t0 + t1) / 2.0
                if _strictly_in(px + tm * dex, py + tm * dey, other):
                    return True
        return False

    def _strict_decide(A, B):
        """Tie-break for pairs with an exact boundary degeneracy and no
        proper crossing: complete strict-interior decision (see docstring)."""
        if _boundary_probe(A, B) or _boundary_probe(B, A):
            return True
        # neither boundary enters the other's interior ⇒ nested or disjoint
        for src, other in ((A, B), (B, A)):
            ip = _interior_point(src)
            if ip is not None and _strictly_in(ip[0], ip[1], other):
                return True
        return False

    @pandas_udf("boolean")
    def isect(ea: pd.Series, eb: pd.Series) -> pd.Series:
        out = np.zeros(len(ea), dtype=bool)
        for i, (a, b) in enumerate(zip(ea, eb)):
            if a is None or b is None or len(a) == 0 or len(b) == 0:
                continue
            A = np.asarray(a, dtype=np.float64).reshape(-1, 4)
            B = np.asarray(b, dtype=np.float64).reshape(-1, 4)
            # a new array: Arrow-backed buffers are read-only
            shift = 360.0 * np.round((A[0, 0] - B[0, 0]) / 360.0)
            B = B + np.array([shift, 0.0, shift, 0.0])
            # (1) proper crossing on the (m × k) orientation grid
            p1x, p1y, p2x, p2y = (A[:, j, None] for j in range(4))
            q1x, q1y, q2x, q2y = (B[None, :, j] for j in range(4))
            d1 = _cross(q1x, q1y, q2x, q2y, p1x, p1y)
            d2 = _cross(q1x, q1y, q2x, q2y, p2x, p2y)
            d3 = _cross(p1x, p1y, p2x, p2y, q1x, q1y)
            d4 = _cross(p1x, p1y, p2x, p2y, q2x, q2y)
            # STRICT straddling: a zero orientation (endpoint exactly on
            # the other segment's line) is a touch, not a proper crossing
            # — `(d1>0)!=(d2>0)` would lump 0 with negative and call an
            # endpoint-on-segment contact "proper"
            proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
                ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
            )
            if proper.any():
                out[i] = True
                continue
            # (2) reliable vertex probe (off-boundary only)
            pa = (A[0, 0], A[0, 1])
            pb = (B[0, 0], B[0, 1])
            a_on, b_on = _on_boundary(*pa, B), _on_boundary(*pb, A)
            if (not a_on and _point_in(*pa, B)) or (
                not b_on and _point_in(*pb, A)
            ):
                out[i] = True
                continue
            # exact degeneracy anywhere? (zero orientation AND the edge
            # bboxes overlap — a zero orientation against a faraway
            # collinear line is not a contact) — only then pay the
            # tie-break
            zero = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
            boxes = (
                (np.minimum(p1x, p2x) <= np.maximum(q1x, q2x))
                & (np.minimum(q1x, q2x) <= np.maximum(p1x, p2x))
                & (np.minimum(p1y, p2y) <= np.maximum(q1y, q2y))
                & (np.minimum(q1y, q2y) <= np.maximum(p1y, p2y))
            )
            if a_on or b_on or (zero & boxes).any():
                out[i] = _strict_decide(A, B)
            # else: no crossing, no contact, probes outside ⇒ disjoint
        return pd.Series(out)

    return isect


def polygon_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    level: int,
) -> DataFrame:
    """Polygon-polygon intersection join (J9) over two frames with a
    ``rings`` column: (left_id, right_id) for every pair whose polygons
    share interior — the exact strict-interior decision of
    polygons_intersect_udf, so polygons that only touch (shared walls,
    shared corners) never pair.

    Candidates: ``key_pairs`` over BOTH sides' C4 cover cells at
    ``level`` — a shared interior region touches ≥1 cell, and the cover
    contains every cell the polygon touches, so that cell is in both
    covers ⇒ 100% recall. The flat edge arrays re-join by id for the
    exact refine.
    """
    ce = cover_and_edges_udf(level)
    lpre = left.select(F.col(left_id).alias("a"), ce(F.col("rings")).alias("_ce"))
    rpre = right.select(F.col(right_id).alias("b"), ce(F.col("rings")).alias("_ce"))
    ledges = lpre.select("a", F.col("_ce.edges").alias("_le"))
    redges = rpre.select("b", F.col("_ce.edges").alias("_re"))
    lcov = lpre.select("a", F.explode("_ce.cover").alias("_cell"))
    rcov = rpre.select("b", F.explode("_ce.cover").alias("_cell"))
    refined = (
        key_pairs(lcov, ["_cell"], rcov)
        .join(ledges.hint("shuffle_hash"), "a")
        .join(redges.hint("shuffle_hash"), "b")
        .where(polygons_intersect_udf()(F.col("_le"), F.col("_re")))
    )
    return refined.select(F.col("a").alias(left_id), F.col("b").alias(right_id))


# ---------------------------------------------------------------------------
# J5 — distance-threshold kNN join
# ---------------------------------------------------------------------------


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str | list[str],
    cand_id: str,
    d_max_m: float,
    k: int | None = 1,
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    salt: bool = False,
    ring_r: int = 1,
    expand: str = "queries",
    **salt_kw,
) -> DataFrame:
    """For each query point: the k nearest candidates within ``d_max_m``
    meters (haversine), deterministic tie-break on candidate id (J5).
    ``k=None`` returns ALL candidates within the distance band — no
    ranking window, so the per-query sort is skipped entirely (a
    distance-band join, not a kNN).

    Exactness: the join level is the finest whose minimum cell edge ≥
    d_max / ring_r, hence the (2r+1)×(2r+1) Chebyshev ring of a point's
    cell provably contains every point within d_max (crossing to a cell at
    graph distance ≥ r+1 traverses ≥ r full cell widths ≥ d_max; the
    assertion below is the plan-build-time proof obligation from SURVEY
    §7.4.2). ``ring_r=1`` is the classic 3×3; larger r uses finer cells —
    candidate volume shrinks toward the exact 2d_max disk (e.g. r=3 probes
    49 cells of 1/16 the area ≈ 0.34× the r=1 candidate volume) at the
    price of a (2r+1)² explode on the ``expand`` side.

    ``expand`` picks which side carries the ring explode ("queries" or
    "candidates" — pass the SMALLER side; the pair set is identical either
    way because Chebyshev adjacency is symmetric, property-tested). The
    other side joins on its single cell. Distance math is pure Column
    expressions (whole-stage codegen); only the cell encode/ring are
    pandas UDFs.
    """
    if expand not in ("queries", "candidates"):
        raise ValueError(f"expand must be 'queries' or 'candidates', got {expand!r}")
    level = C.level_for_max_distance(d_max_m / ring_r)
    # plan-build-time proof obligation (SURVEY §7.4.2); a raise, not an
    # assert, so `python -O` cannot strip the exactness guarantee (r3 #4)
    if ring_r * C.min_cell_edge_meters(level) < d_max_m:
        raise ValueError(
            f"kNN sufficiency violated: ring {ring_r} × level-{level} edge "
            f"{C.min_cell_edge_meters(level):.1f} m < d_max {d_max_m} m"
        )
    qid_cols = [query_id] if isinstance(query_id, str) else list(query_id)
    q = with_cell(queries, level, q_lon, q_lat, "_cell")
    c = with_cell(candidates, level, c_lon, c_lat, "_cell")
    ring = cell_ring_udf(ring_r)
    if expand == "queries":
        q = q.withColumn("_cell", F.explode(ring(F.col("_cell"))))
    else:
        c = c.withColumn("_cell", F.explode(ring(F.col("_cell"))))
    if salt:
        cand = salted_join(q, c, "_cell", F.col(qid_cols[0]), **salt_kw)
    else:
        cand = q.join(c.hint("shuffle_hash"), "_cell")
    cand = cand.drop("_cell").withColumn(
        "dist_m", G.haversine_m(F.col(q_lon), F.col(q_lat), F.col(c_lon), F.col(c_lat))
    )
    cand = cand.where(F.col("dist_m") <= F.lit(float(d_max_m)))
    if k is None:
        return cand
    from pyspark.sql.types import MapType

    orderable = not any(
        isinstance(f.dataType, MapType) for f in cand.schema.fields
    )
    if k == 1 and orderable:
        # k=1 is an argmin, not a rank: one partial-aggregating min over
        # struct(dist_m, cand_id, rest) replaces the ranking window —
        # map-side combine collapses candidates before the shuffle and the
        # per-key sort disappears. Row-identical to the window pick:
        # (dist_m, cand_id) is unique per query — each (query, candidate)
        # pair occurs once post-ring-dedup — so the lexicographic struct
        # min IS "ORDER BY dist_m ASC, cand_id ASC LIMIT 1" with that
        # row's remaining columns carried along. Falls back to the window
        # when a column type is not orderable (maps).
        out_cols = cand.columns
        rest = [c for c in out_cols if c not in qid_cols]
        ordered = ["dist_m", cand_id] + [
            c for c in rest if c not in ("dist_m", cand_id)
        ]
        best = cand.groupBy(*qid_cols).agg(
            F.min(F.struct(*ordered)).alias("_best")
        )
        return best.select(
            *[
                F.col(c) if c in qid_cols else F.col(f"_best.{c}").alias(c)
                for c in out_cols
            ]
        )
    w = Window.partitionBy(*qid_cols).orderBy(
        F.col("dist_m").asc(), F.col(cand_id).asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# J7 — as-of latest snapshot per key
# ---------------------------------------------------------------------------


def asof_latest(df: DataFrame, key: str, ts: str) -> DataFrame:
    """Latest row per ``key`` by ``ts``, deterministic under duplicate
    timestamps: ties break on every remaining column ascending (a total
    order as long as no two rows are fully identical — VERDICT r2 #5; the
    docstring used to promise this without implementing it)."""
    tie_cols = [F.col(c).asc() for c in df.columns if c not in (key, ts)]
    w = Window.partitionBy(key).orderBy(F.col(ts).desc(), *tie_cols)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# J8 — generic 1-D numeric range (band) join
# ---------------------------------------------------------------------------


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
) -> DataFrame:
    """Pairs with ``|left_val - right_val| <= band`` — the J8 theta→equi
    rule as a reusable operator (the 1-D analogue of the cell kNN join):
    candidates via an equi-join on ``bucket = floor(val / band)`` with a
    3-bucket probe ring on the left side, then the exact residual filter.
    Catalyst would plan the raw theta predicate as a
    BroadcastNestedLoopJoin; this never does.

    Exactness: |l - r| <= band ⇒ floor(r/band) ∈ {floor(l/band)-1, ·, +1}.
    That real-arithmetic argument survives floating point ONLY when the
    division is exact, so ``band`` must be a power of two (x/2^k is a pure
    exponent shift — no rounding, floors exact); asserted below. A
    non-dyadic band can round x/band across an integer boundary and drop a
    boundary-equal pair that the residual (computed on the raw values)
    would keep.
    """
    m, e = np.frexp(band)
    if not (band > 0 and m == 0.5):
        raise ValueError(
            f"band must be a positive power of two for exact bucketing, got {band!r}"
        )
    lb = left.withColumn(
        "_bucket",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col(left_val) / F.lit(float(band))) + F.lit(d)).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ),
    )
    rb = right.withColumn(
        "_bucket", F.floor(F.col(right_val) / F.lit(float(band))).cast("long")
    )
    pairs = lb.join(rb.hint("shuffle_hash"), "_bucket")
    return pairs.where(
        F.abs(F.col(left_val) - F.col(right_val)) <= F.lit(float(band))
    ).drop("_bucket")
