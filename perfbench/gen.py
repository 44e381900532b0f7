"""Seeded workload inputs and their expected outputs.

Every table is a pure function of ``(workload, seed)``: a numpy Generator
seeded with both draws every random choice, and the tables are written as
parquet with pyarrow, so no Spark job runs while inputs are made.

Conflate inputs are the stored extract output (``addrs``), ``buildings`` and
``existing`` nodes. Addresses sit on a jittered 30 m grid per town, so each
planted outcome (exact key, fuzzy street, containing building, node within
10 m, none) decides the address's match without touching a neighbour. The
``hot_share`` of addresses of town 0 instead sit within 1.5 m of one point,
inside one level-20 (and so one level-19) cell, under one unaddressed
building: the geocoder's centroid fallback, or one block with hundreds of
units.

The expected conflate output is re-derived here from the tables alone by a
small pandas reference of the pinned match rules (the same rules as
``tests/oracle.py``, with a 55 m grid bucket in place of the O(n^2) scans),
not read back from the planted choices. Ingest expectations re-run the text
kernels on the pages, as the oracle does, and re-derive the as-of dedupe,
the gazetteer lookup and the partition column above them.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.functions import geo as G
from osm_addr_tools_spark.functions import normalize as N
from osm_addr_tools_spark.functions import text as T
from osm_addr_tools_spark.sources.synth import STREETS

D_MAX_M = 10.0
FUZZY_TAU = 0.75
CONTAINMENT_LEVEL = 19
KNN_LEVEL = C.level_for_max_distance(D_MAX_M / 2)  # knn_join's level at ring_r=2
PART_LEVEL = 6
TILE_LEVEL = 16
SPACING_M = 30.0
M_PER_DEG = 111_320.0
_FOLD = str.maketrans("ąćęłńóśźż", "acelnoszz")

RINGS_TYPE = pa.list_(pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())])))
TAGS_TYPE = pa.map_(pa.string(), pa.string())


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = int(hashlib.sha256(workload.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, salt])


def _town_center(t: np.ndarray):
    return 21.0 + 0.25 * (t % 4), 52.2 + 0.25 * (t // 4)


def _offset(lon, lat, east_m, north_m):
    return (lon + east_m / (M_PER_DEG * np.cos(np.radians(lat))),
            lat + north_m / M_PER_DEG)


def _rect(lon, lat, w_m, h_m):
    """Axis-aligned w×h metre rectangle centred on (lon, lat) as rings."""
    x0, y0 = _offset(lon, lat, -w_m / 2, -h_m / 2)
    x1, y1 = _offset(lon, lat, w_m / 2, h_m / 2)
    return [[{"lon": x0, "lat": y0}, {"lon": x1, "lat": y0},
             {"lon": x1, "lat": y1}, {"lon": x0, "lat": y1}]]


def _typo(street_norm: str) -> str:
    folded = street_norm.translate(_FOLD)
    return folded if folded != street_norm else street_norm[:-1]


def _hn_raw(base: np.ndarray, style: np.ndarray) -> list[str]:
    forms = ("{n}", "{n}a", "0{n}", "{n} a", "{n}/2")
    return [forms[s].format(n=n) for n, s in zip(base.tolist(), style.tolist())]


def hot_point() -> tuple[float, float]:
    """Centre of the level-KNN_LEVEL cell holding town 0's centre."""
    lon, lat = _town_center(np.array([0]))
    clon, clat = C.cell_center_lonlat(C.cell_encode(lon, lat, KNN_LEVEL))
    return float(clon[0]), float(clat[0])


def universe(rng: np.random.Generator, n: int, n_towns: int, hot_share: float) -> pd.DataFrame:
    """``n`` addresses with unique normalized keys and planted positions."""
    i = rng.permutation(n)
    town = i % n_towns
    s_idx = (i // n_towns) % len(STREETS)
    base = 1 + i // (n_towns * len(STREETS))
    var = rng.integers(0, 3, n)
    street = [STREETS[s][1][v % len(STREETS[s][1])] for s, v in zip(s_idx, var)]
    city = np.array(["Adamowo", "Borkowo", "Celinowo", "Dabrowa"] * (n_towns // 4 + 1),
                    dtype=object)[town]
    u = pd.DataFrame({
        "town": town, "city": city, "street": street,
        "housenumber": _hn_raw(base, rng.integers(0, 5, n)),
        "postcode": np.where(rng.random(n) < 0.85,
                             [f"{10 + t:02d}-{x:03d}" for t, x in
                              zip(town.tolist(), rng.integers(100, 1000, n).tolist())],
                             None),
    })
    u["city_norm"] = u["city"].str.lower()
    u["street_norm"] = N.norm_street(u["street"])
    u["hn_norm"] = N.norm_housenumber(u["housenumber"])
    u["addr_key"] = u["city_norm"] + "|" + u["street_norm"] + "|" + u["hn_norm"]
    assert u["addr_key"].is_unique

    # positions: a jittered SPACING_M grid per town; hot rows share one point
    clon, clat = _town_center(town)
    hot = (town == 0) & (rng.random(n) < hot_share / max(1e-9, np.mean(town == 0)))
    lon, lat = np.empty(n), np.empty(n)
    for t in range(n_towns):
        rows = np.flatnonzero((town == t) & ~hot)
        side = int(np.ceil(np.sqrt(len(rows) * 1.2 + 64)))
        gx, gy = np.meshgrid(np.arange(side) - side / 2, np.arange(side) - side / 2)
        gx, gy = gx.ravel() * SPACING_M, gy.ravel() * SPACING_M
        if t == 0 and hot.any():  # keep grid rows 60 m clear of the hot point
            keep = np.hypot(gx, gy) > 60.0
            gx, gy = gx[keep], gy[keep]
        pick = rng.permutation(len(gx))[: len(rows)]
        jx, jy = rng.uniform(-3, 3, (2, len(rows)))
        lon[rows], lat[rows] = _offset(clon[rows], clat[rows], gx[pick] + jx, gy[pick] + jy)
    hrows = np.flatnonzero(hot)
    jx, jy = rng.uniform(-1.5, 1.5, (2, len(hrows)))
    lon[hrows], lat[hrows] = _offset(*hot_point(), jx, jy)
    u["lon"], u["lat"], u["hot"] = lon, lat, hot
    u["addr_id"] = np.arange(n, dtype=np.int64)
    return u


def conflate_tables(rng: np.random.Generator, u: pd.DataFrame):
    """Existing nodes and buildings with one planted outcome per address."""
    n = len(u)
    r = rng.random(n)
    has_pc_node = rng.random(n) < 0.5
    nodes, blds = [], []
    for a, row, x, full in zip(u["addr_id"].tolist(), u.itertuples(), r.tolist(),
                               has_pc_node.tolist()):
        if x < 0.34:  # exact key: another raw variant of the same street
            vs = next((vs for _, vs in STREETS if row.street in vs), [row.street])
            tags = {"addr:city": row.city, "addr:street": vs[(vs.index(row.street) + 1) % len(vs)],
                    "addr:housenumber": row.housenumber}
            if x < 0.17:
                tags["addr:postcode"] = row.postcode or "00-000"
            elon, elat = _offset(row.lon, row.lat, *rng.uniform(-2, 2, 2))
            nodes.append((a * 10 + 1, elon, elat, tags))
        elif x < 0.44 and not row.hot:  # a node 3-8 m away under another key
            ang, d = rng.uniform(0, 2 * np.pi), rng.uniform(3, 8)
            elon, elat = _offset(row.lon, row.lat, d * np.cos(ang), d * np.sin(ang))
            nodes.append((a * 10 + 2, elon, elat, {
                "addr:city": row.city, "addr:street": STREETS[a % len(STREETS)][1][0],
                "addr:housenumber": str(5000 + a % 999)}))
        elif 0.44 <= x < 0.50:  # fuzzy street: same city + housenumber, a typo
            tags = {"addr:city": row.city, "addr:street": _typo(row.street_norm),
                    "addr:housenumber": row.housenumber}
            if full:
                tags["addr:postcode"] = row.postcode or "00-000"
            nodes.append((a * 10 + 4, row.lon, row.lat, tags))
        elif 0.50 <= x < 0.62 and not row.hot:  # inside an unaddressed building
            blds.append((a * 10 + 3, _rect(*_offset(row.lon, row.lat, *rng.uniform(-2, 2, 2)),
                                           11, 11), {"building": "yes"}))
        elif x >= 0.62 and not row.hot:
            y = rng.random()
            if y < 0.3:  # a near-miss building: a containment candidate, no hit
                blds.append((a * 10 + 3, _rect(*_offset(row.lon, row.lat, 11, 0), 8, 8),
                             {"building": "yes"}))
            elif y < 0.5:  # an addressed building: filtered before the join
                blds.append((a * 10 + 3, _rect(row.lon, row.lat, 11, 11), {
                    "building": "yes", "addr:housenumber": row.housenumber}))
    if u["hot"].any():  # the block that carries every hot unit
        blds.append((10 * len(u) + 7, _rect(*hot_point(), 24, 24), {"building": "yes"}))
    existing = pd.DataFrame(nodes, columns=["node_id", "lon", "lat", "tags"])
    buildings = pd.DataFrame(blds, columns=["building_id", "rings", "tags"])
    return existing, buildings


# --- expected conflate output (pandas reference of the pinned rules) -------

def _bucket(lon, lat):
    return (np.floor(np.asarray(lon) / 0.0005).astype(np.int64),
            np.floor(np.asarray(lat) / 0.0005).astype(np.int64))


def _near_pairs(a: pd.DataFrame, b: pd.DataFrame, a_xy, b_xy) -> pd.DataFrame:
    """Every (a row, b row) whose 55 m buckets touch (3×3 neighbourhood)."""
    ax, ay = _bucket(*a_xy)
    bx, by = _bucket(*b_xy)
    left = pd.DataFrame({"ai": np.arange(len(a)), "bx": ax, "by": ay})
    parts = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            right = pd.DataFrame({"bi": np.arange(len(b)), "bx": bx + dx, "by": by + dy})
            parts.append(left.merge(right, on=["bx", "by"])[["ai", "bi"]])
    return pd.concat(parts, ignore_index=True)


def expected_conflate(addrs: pd.DataFrame, existing: pd.DataFrame,
                      buildings: pd.DataFrame) -> pd.DataFrame:
    tags = existing["tags"]
    get = lambda k: pd.Series([t.get(k, "") for t in tags], dtype=object)
    ex = existing.assign(
        city_norm=get("addr:city").str.strip().str.lower(),
        street_norm=N.norm_street(get("addr:street").where(get("addr:street") != "",
                                                            get("addr:place"))),
        hn_norm=N.norm_housenumber(get("addr:housenumber")),
        has_pc=[("addr:postcode" in t) for t in tags],
    )
    ex["addr_key"] = ex["city_norm"] + "|" + ex["street_norm"] + "|" + ex["hn_norm"]
    a = addrs.reset_index(drop=True).copy()
    kind = np.full(len(a), "create", dtype=object)
    ref = np.full(len(a), np.nan)
    dist = np.full(len(a), np.nan)
    node_tags = [None] * len(a)

    def decide(idx, nodes):
        complete = nodes["has_pc"].to_numpy() | a.loc[idx, "postcode"].isna().to_numpy()
        kind[idx] = np.where(complete, "duplicate", "update")
        ref[idx] = nodes["node_id"].to_numpy()
        dist[idx] = G.haversine_np(a.loc[idx, "lon"], a.loc[idx, "lat"],
                                   nodes["lon"].to_numpy(), nodes["lat"].to_numpy())
        for k, i in enumerate(idx):
            node_tags[i] = nodes["tags"].iloc[k]

    best = ex.sort_values("node_id").drop_duplicates("addr_key")
    hit = a[["addr_key"]].reset_index().merge(best, on="addr_key")
    decide(hit["index"].to_numpy(), hit)
    open_ = kind == "create"

    # fuzzy: same (city, housenumber), another street with ratio >= tau
    cand = a.loc[open_, ["city_norm", "hn_norm", "street_norm"]].reset_index().merge(
        ex, on=["city_norm", "hn_norm"], suffixes=("", "_e"))
    cand = cand[cand["street_norm"] != cand["street_norm_e"]]
    if len(cand):
        cand = cand.assign(ratio=N.street_similarity(
            cand["street_norm"], cand["street_norm_e"]).to_numpy())
        cand = cand[cand["ratio"] >= FUZZY_TAU].sort_values(
            ["index", "ratio", "node_id"], ascending=[True, False, True]
        ).drop_duplicates("index")
        decide(cand["index"].to_numpy(), cand)
    open_ = kind == "create"

    # containment: smallest unaddressed building whose rings hold the point
    un = buildings[[("addr:housenumber" not in t) for t in buildings["tags"]]].reset_index(drop=True)
    if len(un):
        first = [r[0][0] for r in un["rings"]]
        pairs = _near_pairs(a, un, (a["lon"], a["lat"]),
                            ([p["lon"] for p in first], [p["lat"] for p in first]))
        pairs = pairs[open_[pairs["ai"].to_numpy()]]
        inside = [
            bool(G.points_in_polygon(
                np.array([a.at[ai, "lon"]]), np.array([a.at[ai, "lat"]]),
                [np.array([(p["lon"], p["lat"]) for p in ring]) for ring in un.at[bi, "rings"]],
            )[0])
            for ai, bi in zip(pairs["ai"].tolist(), pairs["bi"].tolist())
        ]
        pairs = pairs[inside].assign(bid=lambda d: un["building_id"].to_numpy()[d["bi"]])
        att = pairs.groupby("ai")["bid"].min()
        kind[att.index.to_numpy()] = "attach"
        ref[att.index.to_numpy()] = att.to_numpy()
        dist[att.index.to_numpy()] = 0.0
    open_ = kind == "create"

    # nearest node within D_MAX_M, ties on node_id
    pairs = _near_pairs(a, ex, (a["lon"], a["lat"]), (ex["lon"], ex["lat"]))
    pairs = pairs[open_[pairs["ai"].to_numpy()]]
    d = G.haversine_np(a["lon"].to_numpy()[pairs["ai"]], a["lat"].to_numpy()[pairs["ai"]],
                       ex["lon"].to_numpy()[pairs["bi"]], ex["lat"].to_numpy()[pairs["bi"]])
    pairs = pairs.assign(d=d, nid=ex["node_id"].to_numpy()[pairs["bi"]])
    pairs = pairs[pairs["d"] <= D_MAX_M].sort_values(["ai", "d", "nid"]).drop_duplicates("ai")
    kind[pairs["ai"].to_numpy()] = "nearest"
    ref[pairs["ai"].to_numpy()] = pairs["nid"].to_numpy()
    dist[pairs["ai"].to_numpy()] = pairs["d"].to_numpy()

    out_tags = []
    for i, row in enumerate(a.itertuples()):
        if kind[i] == "duplicate":
            out_tags.append(dict(node_tags[i]))
        elif kind[i] == "update":
            out_tags.append({**node_tags[i], "addr:postcode": row.postcode})
        else:
            t = {"addr:city": row.city, "addr:street": row.street,
                 "addr:housenumber": row.housenumber, "addr:postcode": row.postcode,
                 "source:addr": "webextract"}
            out_tags.append({k: v for k, v in t.items() if v is not None})
    ref = [None if np.isnan(r) else int(r) for r in ref]
    return a.assign(match_kind=kind, matched_ref=ref, dist_m=dist, tags=out_tags)


# --- digests ----------------------------------------------------------------

def _norm(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (float, np.floating)):  # JVM and numpy trig differ in the last bits
        return round(float(v), 7)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, dict):
        return sorted(v.items())
    if isinstance(v, list):  # a map read back through Arrow: [(k, v), ...]
        return sorted(tuple(kv) for kv in v)
    return v


def digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent digest: sum of per-row 64-bit hashes mod 2^64."""
    total = 0
    for row in zip(*(df[c].tolist() for c in cols)):
        h = hashlib.blake2b(json.dumps([_norm(v) for v in row], default=str).encode(),
                            digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return f"{total:016x}:{len(df)}"


CONFLATE_DIGEST_COLS = ["url", "addr_key", "city", "street", "housenumber", "postcode",
                        "street_norm", "hn_norm", "lon", "lat", "match_kind",
                        "matched_ref", "dist_m", "tags"]
EXTRACT_DIGEST_COLS = ["url", "addr_key", "street", "housenumber", "postcode",
                       "hn_norm", "lon", "lat", "cell_p"]
TILE_DIGEST_COLS = ["feature_id", "tile_id"]


# --- pages and gazetteer -------------------------------------------------------

_HTML = (
    "<html><head><title>Oferta {p}</title>\n"
    "<style>.x{{color:#fff;}}</style>\n"
    '<script>if(1<2){{document.write("skip & drop");}}</script>\n'
    "</head><body>\n<!-- listing {p} <div>gone</div> -->\n"
    "<h1>Oferta nr {p}</h1>\n{block}"
    "<p>Opis: lokal w centrum, dzia&#322;ka obok, metra&#380; {sqm}&nbsp;m2.</p>\n"
    "<ul><li>pokoje: {rooms}</li></ul>\n</body></html>"
)


def _addr_line(row) -> str:
    pc = f"{row.postcode} " if row.postcode else ""
    return f'<div class="addr"><p>{row.street} {row.housenumber},&nbsp;{pc}{row.city}</p></div>\n'


def pages_and_gazetteer(rng: np.random.Generator, u: pd.DataFrame, n_pages: int):
    """Listing pages that render the universe's addresses (0, 1 or 2 per
    page; 10% of urls re-crawled a day later with another address), and a
    gazetteer that misses 5% of the addresses."""
    lines = [_addr_line(r) for r in u.itertuples()]
    pages, nxt = [], 0
    t0 = pd.Timestamp("2026-01-01", tz="UTC")
    for p in range(n_pages):
        r = rng.random()
        k = 0 if r < 0.15 else (2 if r < 0.20 else 1)
        for c in range(2 if rng.random() < 0.10 else 1):
            block = "".join(lines[(nxt + j) % len(u)] for j in range(k))
            nxt += k
            pages.append((f"https://town{p % 4}.example/listing/{p}",
                          t0 + pd.Timedelta(seconds=p * 137 + c * 86400),
                          _HTML.format(p=p, block=block, sqm=30 + p % 70,
                                       rooms=1 + p % 5).encode(),
                          ["pl", "en", "de"][p % 3]))
    pages = pd.DataFrame(pages, columns=["url", "warc_ts", "html", "lang"])
    pages["text"] = T.extract_text(pages["html"])
    gaz = u.loc[rng.random(len(u)) >= 0.05,
                ["city_norm", "street_norm", "hn_norm", "lon", "lat"]].rename(
        columns={"city_norm": "city"}).reset_index(drop=True)
    return pages, gaz


def expected_extract(pages: pd.DataFrame, gaz: pd.DataFrame) -> pd.DataFrame:
    latest = pages.sort_values("warc_ts").drop_duplicates("url", keep="last")
    rows = [dict(url=url, **c) for url, text in
            zip(latest["url"], T.extract_text(latest["html"]))
            for c in T.parse_addresses_one(text)]
    df = pd.DataFrame(rows)
    df["street_norm"] = N.norm_street(df["street"])
    df["hn_norm"] = N.norm_housenumber(df["housenumber"])
    df["city_norm"] = df["city"].fillna("").str.strip().str.lower()
    df["addr_key"] = df["city_norm"] + "|" + df["street_norm"] + "|" + df["hn_norm"]
    df = df.merge(gaz.rename(columns={"city": "city_norm"}),
                  on=["city_norm", "street_norm", "hn_norm"])
    df["cell_p"] = C.cell_encode(df["lon"].to_numpy(), df["lat"].to_numpy(), PART_LEVEL)
    return df


def expected_tiles(buildings: pd.DataFrame) -> pd.DataFrame:
    rows = [(bid, int(c)) for bid, rings in zip(buildings["building_id"], buildings["rings"])
            for c in C.cover_polygon([[(p["lon"], p["lat"]) for p in r] for r in rings],
                                     TILE_LEVEL)]
    return pd.DataFrame(rows, columns=["feature_id", "tile_id"])


# --- on-disk cache --------------------------------------------------------------

ADDRS_SCHEMA = pa.schema([
    ("url", pa.string()), ("addr_key", pa.string()), ("city", pa.string()),
    ("street", pa.string()), ("housenumber", pa.string()), ("postcode", pa.string()),
    ("city_norm", pa.string()), ("street_norm", pa.string()), ("hn_norm", pa.string()),
    ("lon", pa.float64()), ("lat", pa.float64()), ("geocoded", pa.bool_()),
])
EXISTING_SCHEMA = pa.schema([("node_id", pa.int64()), ("lon", pa.float64()),
                             ("lat", pa.float64()), ("tags", TAGS_TYPE)])
BUILDINGS_SCHEMA = pa.schema([("building_id", pa.int64()), ("rings", RINGS_TYPE),
                              ("tags", TAGS_TYPE)])
PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
GAZ_SCHEMA = pa.schema([("city", pa.string()), ("street_norm", pa.string()),
                        ("hn_norm", pa.string()), ("lon", pa.float64()), ("lat", pa.float64())])
# one file per table, as one import's extract arrives; four files (one scan
# split per core) ran twice the Python-worker tasks for the same rows and
# made a run too long for the benchmark's time budget (README.md)
N_FILES = 1


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    """``df`` as N_FILES parquet files; map columns go in as (key, value) lists."""
    os.makedirs(path, exist_ok=True)
    if "tags" in schema.names:
        df = df.assign(tags=[list(t.items()) for t in df["tags"]])
    for k, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        table = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k}.parquet"))


def source_hash() -> str:
    """Part of the input cache key: a changed generator makes new inputs."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def make_inputs(spec: dict, seed: int, root: str, hot_threshold: int) -> dict:
    """Write the workload's five tables under ``root`` once per (workload,
    seed); return their paths, the expected pass output and the input
    properties."""
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    rng = _rng(spec["name"], seed)
    u = universe(rng, spec["n_addrs"], spec["n_towns"], spec["hot_share"])
    existing, buildings = conflate_tables(rng, u)
    pages, gaz = pages_and_gazetteer(rng, u, spec["n_pages"])
    u["url"] = [f"https://town{t}.example/listing/{a}" for t, a in
                zip(u["town"].tolist(), u["addr_id"].tolist())]
    u["geocoded"] = True
    addrs = u[ADDRS_SCHEMA.names]
    tables = {"addrs": (addrs, ADDRS_SCHEMA), "existing": (existing, EXISTING_SCHEMA),
              "buildings": (buildings, BUILDINGS_SCHEMA), "pages": (pages, PAGES_SCHEMA),
              "gazetteer": (gaz, GAZ_SCHEMA)}
    meta = {"paths": {}, "properties": input_properties(addrs, hot_threshold)}
    for name, (df, schema) in tables.items():
        meta["paths"][name] = os.path.join(root, name)
        meta["properties"][f"rows_{name}"] = len(df)
        _write(df, meta["paths"][name], schema)
    if spec["kind"] == "conflate":
        exp = expected_conflate(addrs, existing, buildings)
        meta["rows"] = len(addrs)
        meta["digest"] = digest(exp, CONFLATE_DIGEST_COLS)
        meta["kinds"] = exp["match_kind"].value_counts().sort_index().to_dict()
    else:
        ext, tiles = expected_extract(pages, gaz), expected_tiles(buildings)
        meta["rows"] = len(pages)
        meta["digest"] = digest(ext, EXTRACT_DIGEST_COLS)
        meta["tile_digest"] = digest(tiles, TILE_DIGEST_COLS)
    with open(meta_path, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def input_properties(addrs: pd.DataFrame, hot_threshold: int) -> dict:
    """The fullest cell at the containment and kNN levels, and the share of
    addresses in cells above the salting threshold."""
    lon, lat = addrs["lon"].to_numpy(), addrs["lat"].to_numpy()
    props, hot_rows = {}, 0
    for name, level in (("containment", CONTAINMENT_LEVEL), ("knn", KNN_LEVEL)):
        counts = pd.Series(C.cell_encode(lon, lat, level)).value_counts()
        props[f"max_rows_per_cell_{name}"] = int(counts.max())
        props[f"hot_cells_{name}"] = int((counts > hot_threshold).sum())
        hot_rows = max(hot_rows, int(counts[counts > hot_threshold].sum()))
    props["hot_share"] = round(hot_rows / len(addrs), 4)
    return props
