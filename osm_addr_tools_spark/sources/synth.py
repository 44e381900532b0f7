"""Deterministic synthetic-data generators (SURVEY.md §2.1 S2-op; FIXTURES.md).

Everything is a pure function of the row id (splitmix64-style avalanche hash
for all "random" choices — no RNG state, no wall clock), so any scale can be
regenerated bit-identically on any executor layout. This implements the
driver rule "synthesise the input table deterministically at small scale;
no external data" for the pages table shape pinned by BASELINE.json
input_hint: (url string, warc_ts timestamp, html binary, text string,
lang string).

The address *universe* is the shared ground truth that pages, gazetteer,
buildings and existing_addresses are all derived from, which is what makes
the golden conflation scenario (FIXTURES.md §2) computable by the pure
oracle in tests/oracle.py.

Layout of the universe for ``n_pages`` pages (ids are np.int64):
  - address ids a ∈ [0, 2·n_pages); address a is *realized* (appears on a
    page) iff its page renders it (see ``page_plan``).
  - (town, street, housenumber) is a bijection of a → addr_key is unique.
  - towns 0/1 are the FIXTURES "two towns" (21.00E 52.20N / 16.90E 52.40N);
    further towns lie on a 0.5° grid.
  - ~30% of town-0 addresses concentrate in a ~100 m hot box around the
    town center — the deliberate hot-cell skew (FIXTURES §1.4).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from osm_addr_tools_spark.functions import normalize as N
from osm_addr_tools_spark.functions import text as T

SEED = 42
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
EPOCH_S = int(EPOCH.timestamp())

# canonical street -> raw variants as they appear in page text / OSM tags
STREETS: list[tuple[str, list[str]]] = [
    ("długa", ["ul. Długa", "Ul. Długa", "ULICA Długa"]),
    ("krótka 3 maja", ["ul.   Krótka 3 Maja", "Ul. Krótka 3 Maja"]),
    ("aleja jerozolimskie", ["Al. Jerozolimskie", "aleja Jerozolimskie"]),
    ("plac wolności", ["Pl. Wolności", "Plac Wolności"]),
    ("main st", ["Main St.", "main St."]),
    ("park ave", ["Park Ave.", "park Ave."]),
    ("osiedle zielone", ["Os. Zielone", "Osiedle Zielone"]),
    ("kwiatowa", ["Kwiatowa", "kwiatowa "]),
]

_HN_STYLES = 5  # "12" "12a" "012" "12 a" "12/2"


def h01(ids, salt: int) -> np.ndarray:
    """splitmix64 avalanche of (id, salt, SEED) → float64 in [0, 1)."""
    x = (np.asarray(ids, dtype=np.uint64) + np.uint64(salt * 1_000_003 + SEED)) * np.uint64(
        0x9E3779B97F4A7C15
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x.astype(np.float64) / 2.0**64


def synth_n_pages(sf_dir: str) -> int:
    """Synthetic page count of the sf-named directory ``sf_dir`` (``sf0.01``
    → 200; an unparsable name reads as sf0.01): the one rule both the
    synthetic queries and their DuckDB oracle size their inputs by."""
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.01
    return max(100, int(20000 * sf))


def n_towns_for(n_pages: int) -> int:
    return max(2, n_pages // 2000)


def town_centers(t: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    t = np.asarray(t, dtype=np.int64)
    lon = np.where(t == 0, 21.00, np.where(t == 1, 16.90, 5.0 + (t % 40) * 0.5))
    lat = np.where(t == 0, 52.20, np.where(t == 1, 52.40, 45.0 + (t // 40) * 0.5))
    return lon, lat


def town_name(t: int) -> str:
    return {0: "Adamowo", 1: "Borkowo"}.get(int(t), f"Celinowo{int(t)}")


def addr_universe_pdf(a_ids, n_pages: int) -> pd.DataFrame:
    """Ground-truth attributes for address ids (pure function of id)."""
    a = np.asarray(a_ids, dtype=np.int64)
    nt = n_towns_for(n_pages)
    town = a % nt
    s_idx = (a // nt) % len(STREETS)
    hn_base = 1 + (a // (nt * len(STREETS)))

    street_canon = np.array([STREETS[s][0] for s in s_idx], dtype=object)
    var_pick = h01(a, 4)
    street_raw = np.array(
        [
            STREETS[s][1][int(v * len(STREETS[s][1]))]
            for s, v in zip(s_idx, var_pick)
        ],
        dtype=object,
    )
    style = (h01(a, 13) * _HN_STYLES).astype(np.int64)
    hn_raw = np.array(
        [
            [str(n), f"{n}a", f"0{n}", f"{n} a", f"{n}/2"][st]
            for n, st in zip(hn_base, style)
        ],
        dtype=object,
    )
    city = np.array([town_name(t) for t in town], dtype=object)
    postcode = np.array(
        [f"{10 + t % 80:02d}-{100 + int(x) % 900:03d}" for t, x in zip(town, a)],
        dtype=object,
    )
    clon, clat = town_centers(town)
    hot = (town == 0) & (h01(a, 3) < 0.3)
    spread = np.where(hot, 0.001, 0.02)
    lon = clon + (h01(a, 1) - 0.5) * spread
    lat = clat + (h01(a, 2) - 0.5) * spread * 0.6

    pdf = pd.DataFrame(
        {
            "addr_id": a,
            "town": town,
            "city": city,
            "street_raw": street_raw,
            "street_canon": street_canon,
            "hn_raw": hn_raw,
            "postcode": postcode,
            "lon": lon,
            "lat": lat,
        }
    )
    norm = N.norm_address(pdf["city"], pdf["street_raw"], pdf["hn_raw"])
    return pdf.join(norm[["street_norm", "hn_norm", "addr_key"]])


def page_plan(p_ids) -> pd.DataFrame:
    """Which addresses each page renders: r<0.15 none; r<0.20 two; else one."""
    p = np.asarray(p_ids, dtype=np.int64)
    r = h01(p, 9)
    return pd.DataFrame(
        {
            "page_id": p,
            "has_addr": r >= 0.15,
            "has_second": (r >= 0.15) & (r < 0.20),
        }
    )


# --- pages -------------------------------------------------------------

_HTML_TMPL = (
    "<html><head><title>Listing {p}</title>\n"
    '<style>.x{{color:#fff;}} body {{margin: 0 }}</style>\n'
    '<script>if(1<2){{document.write("skip & drop");}}</script>\n'
    "</head><body>\n"
    "<!-- listing {p} <div>comment content must vanish</div> -->\n"
    "<h1>Oferta nr {p}</h1>\n"
    "{addr_block}"
    "<p>Opis: lokal w centrum, dzia&#322;ka obok, metra&#380; "
    "{sqm}&nbsp;m2, cena 100&amp;200.</p>\n"
    "<ul><li>pokoje: {rooms}</li><li>pi&#x119;tro: {floor}</li></ul>\n"
    "</body></html>"
)


def pages_pdf(ids, n_pages: int) -> pd.DataFrame:
    """Pages rows for generator ids in [0, 2·n_pages).

    id < n_pages: base crawl of page id. id ≥ n_pages: re-crawl of page
    (id − n_pages), emitted only for ~10% of pages (exercises as-of J7).
    Output schema == BASELINE.json input_hint.
    """
    ids = np.asarray(ids, dtype=np.int64)
    is_recrawl = ids >= n_pages
    p = np.where(is_recrawl, ids - n_pages, ids)
    keep = ~is_recrawl | (h01(p, 10) < 0.10)
    ids, is_recrawl, p = ids[keep], is_recrawl[keep], p[keep]

    plan = page_plan(p)
    uni_first = addr_universe_pdf(p, n_pages)
    uni_second = addr_universe_pdf(p + n_pages, n_pages)

    def addr_lines(uni: pd.DataFrame) -> list[str]:
        return [
            f'<div class="addr"><p>{s} {h},&nbsp;{pc} {c}</p></div>\n'
            for s, h, pc, c in zip(
                uni["street_raw"], uni["hn_raw"], uni["postcode"], uni["city"]
            )
        ]

    first_lines = addr_lines(uni_first)
    second_lines = addr_lines(uni_second)
    has_addr = plan["has_addr"].to_numpy()
    has_second = plan["has_second"].to_numpy()
    rows = []
    for k, pp in enumerate(p.tolist()):
        block = (first_lines[k] if has_addr[k] else "") + (
            second_lines[k] if has_second[k] else ""
        )
        rows.append(
            _HTML_TMPL.format(
                p=pp, addr_block=block, sqm=30 + pp % 70,
                rooms=1 + pp % 5, floor=pp % 11,
            ).encode("utf-8")
        )
    nt = n_towns_for(n_pages)
    urls = [f"https://town{pp % nt}.example/listing/{pp}" for pp in p.tolist()]
    ts = EPOCH_S + p * 137 + np.where(is_recrawl, 86400, 0)
    html = pd.Series(rows, dtype=object)
    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype=object),
            "warc_ts": pd.to_datetime(ts, unit="s", utc=True).tz_localize(None),
            "html": html,
            "text": T.extract_text(html),
            "lang": pd.Series([["pl", "en", "de"][int(pp) % 3] for pp in p], dtype=object),
        }
    )


# --- gazetteer ----------------------------------------------------------

def gazetteer_pdf(a_ids, n_pages: int) -> pd.DataFrame:
    """One row per universe address (city, street_norm, hn_norm) → lon/lat,
    minus a deterministic 5% miss rate (null-geocode path)."""
    uni = addr_universe_pdf(a_ids, n_pages)
    miss = h01(uni["addr_id"].to_numpy(), 8) < 0.05
    gaz = uni.loc[~miss, ["city", "street_norm", "hn_norm", "lon", "lat"]].copy()
    gaz["city"] = gaz["city"].str.lower()
    return gaz.reset_index(drop=True)


# --- existing OSM-style address nodes ------------------------------------

def _typo_street(canon: str) -> str:
    """Deterministic near-miss street: ASCII-fold diacritics; if the name
    has none, drop the last character. Similarity to the canonical form
    stays ≥ 0.8 (F3 fuzzy-match target) while the normalized key differs."""
    folded = canon.translate(_FOLD)
    return folded if folded != canon else canon[:-1]


_FOLD = str.maketrans("ąćęłńóśźż", "acelnoszz")


def existing_pdf(a_ids, n_pages: int) -> pd.DataFrame:
    """Existing nodes derived from the universe:

    h5 < 0.35       → node with the SAME addr_key (different raw variant),
                      at the canonical point; h11 < 0.5 → full tags
                      (duplicate target) else postcode missing (update
                      target). node_id = 10a+1.
    0.35 ≤ h5 < .45 → node ~5 m north with a DIFFERENT, out-of-universe
                      key (kNN 'nearest' target). node_id = 10a+2.
    0.45 ≤ h5 < .50 → node with a TYPO street (diacritics folded / last
                      char dropped): same city+housenumber, different
                      normalized key — the F3 fuzzy-street target; h11 <
                      0.5 → carries postcode (fuzzy-duplicate) else not
                      (fuzzy-update). node_id = 10a+4.
    """
    uni = addr_universe_pdf(a_ids, n_pages)
    a = uni["addr_id"].to_numpy()
    h5 = h01(a, 5)
    h11 = h01(a, 11)

    variants_of = dict(STREETS)
    canon_index = {canon: i for i, (canon, _) in enumerate(STREETS)}

    rows = []
    same = uni[h5 < 0.35]
    full = h11[h5 < 0.35] < 0.5
    for aid, canon, raw0, city, hn_raw, pc, lon, lat, is_full in zip(
        same["addr_id"].tolist(), same["street_canon"], same["street_raw"],
        same["city"], same["hn_raw"], same["postcode"],
        same["lon"].tolist(), same["lat"].tolist(), full,
    ):
        # different raw variant than the page used (normalization collision)
        variants = variants_of[canon]
        raw = (
            variants[(variants.index(raw0) + 1) % len(variants)]
            if raw0 in variants
            else variants[0]
        )
        tags = {"addr:city": city, "addr:street": raw, "addr:housenumber": hn_raw}
        if is_full:
            tags["addr:postcode"] = pc
        rows.append((aid * 10 + 1, lon, lat, tags))

    near = uni[(h5 >= 0.35) & (h5 < 0.45)]
    for aid, canon, city, lon, lat in zip(
        near["addr_id"].tolist(), near["street_canon"], near["city"],
        near["lon"].tolist(), near["lat"].tolist(),
    ):
        s_next = STREETS[(canon_index[canon] + 1) % len(STREETS)]
        tags = {
            "addr:city": city,
            "addr:street": s_next[1][0],
            "addr:housenumber": str(5000 + aid % 999),
        }
        rows.append((aid * 10 + 2, lon, lat + 5.0 / 111320.0, tags))

    typo = uni[(h5 >= 0.45) & (h5 < 0.50)]
    typo_full = h11[(h5 >= 0.45) & (h5 < 0.50)] < 0.5
    for aid, canon, city, hn_raw, pc, lon, lat, is_full in zip(
        typo["addr_id"].tolist(), typo["street_canon"], typo["city"],
        typo["hn_raw"], typo["postcode"],
        typo["lon"].tolist(), typo["lat"].tolist(), typo_full,
    ):
        tags = {
            "addr:city": city,
            "addr:street": _typo_street(canon),
            "addr:housenumber": hn_raw,
        }
        if is_full:
            tags["addr:postcode"] = pc
        rows.append((aid * 10 + 4, lon, lat, tags))

    return pd.DataFrame(rows, columns=["node_id", "lon", "lat", "tags"])


# --- buildings ------------------------------------------------------------

def _rect(lon: float, lat: float, w: float, h: float) -> list[list[float]]:
    return [
        [lon - w / 2, lat - h / 2],
        [lon + w / 2, lat - h / 2],
        [lon + w / 2, lat + h / 2],
        [lon - w / 2, lat + h / 2],
    ]


def buildings_pdf(a_ids, n_pages: int) -> pd.DataFrame:
    """Rectangles (~11 m × 11 m) centered on universe addresses where
    h6 < 0.25; ~30% already addressed (h12 < 0.3). building_id = 10a+3.
    Rings serialized as JSON (engine parses with from_json)."""
    uni = addr_universe_pdf(a_ids, n_pages)
    a = uni["addr_id"].to_numpy()
    pick = h01(a, 6) < 0.25
    addressed = h01(a, 12) < 0.3
    sel = uni[pick]
    rows = []
    w2, h2 = 0.00016 / 2, 0.0001 / 2
    for aid, city, street_raw, hn_raw, lon, lat, has_addr in zip(
        sel["addr_id"].tolist(), sel["city"], sel["street_raw"], sel["hn_raw"],
        sel["lon"].tolist(), sel["lat"].tolist(), addressed[pick],
    ):
        rings_json = (
            f"[[[{lon - w2!r},{lat - h2!r}],[{lon + w2!r},{lat - h2!r}],"
            f"[{lon + w2!r},{lat + h2!r}],[{lon - w2!r},{lat + h2!r}]]]"
        )
        tags = {"building": "yes"}
        if has_addr:
            tags.update(
                {"addr:city": city, "addr:street": street_raw, "addr:housenumber": hn_raw}
            )
        rows.append((aid * 10 + 3, rings_json, tags))
    return pd.DataFrame(rows, columns=["building_id", "rings_json", "tags"])


def special_buildings_pdf() -> pd.DataFrame:
    """Fixed geometry-stress buildings (FIXTURES §1.3): a holed rectangle,
    an L-shape, a 240-vertex near-circle, and a polygon straddling the S2
    face-0/face-1 seam at lon=45°. Placed away from the towns."""
    rows = []
    # holed rectangle near town A edge
    outer = _rect(21.015, 52.215, 0.0004, 0.0003)
    hole = _rect(21.015, 52.215, 0.0001, 0.00008)
    rows.append((10**9 + 1, json.dumps([outer, hole]), {"building": "yes"}))
    # L-shape
    l_shape = [
        [16.915, 52.415], [16.9154, 52.415], [16.9154, 52.4154],
        [16.9152, 52.4154], [16.9152, 52.4152], [16.915, 52.4152],
    ]
    rows.append((10**9 + 2, json.dumps([l_shape]), {"building": "yes"}))
    # 240-vertex near-circle
    th = np.linspace(0, 2 * np.pi, 241)[:-1]
    circ = [[21.020 + 0.0002 * float(np.cos(t)), 52.220 + 0.00013 * float(np.sin(t))] for t in th]
    rows.append((10**9 + 3, json.dumps([circ]), {"building": "yes"}))
    # face-seam straddler (lon 45° is the face0/face1 boundary)
    seam = _rect(45.0, 10.0, 0.0004, 0.0003)
    rows.append((10**9 + 4, json.dumps([seam]), {"building": "yes"}))
    return pd.DataFrame(rows, columns=["building_id", "rings_json", "tags"])


# --- Spark-side distributed wrappers ---------------------------------------

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
RINGS_DDL = "array<array<struct<lon:double,lat:double>>>"


def synth_pages(spark, n_pages: int):
    """Distributed pages generator: spark.range → mapInPandas (Arrow batches,
    no driver-side materialization — scales to any n)."""

    def gen(batches):
        for b in batches:
            yield pages_pdf(b["id"].to_numpy(), n_pages)

    return spark.range(2 * n_pages).mapInPandas(gen, schema=PAGES_DDL)


def _rings_json_to_col(df, spark):
    from pyspark.sql import functions as F

    return (
        df.withColumn(
            "rings",
            F.transform(
                F.from_json("rings_json", f"array<array<array<double>>>"),
                lambda ring: F.transform(
                    ring, lambda pt: F.struct(pt[0].alias("lon"), pt[1].alias("lat"))
                ),
            ),
        )
        .drop("rings_json")
    )


def synth_buildings(spark, n_pages: int, include_special: bool = True):
    def gen(batches):
        for b in batches:
            pdf = buildings_pdf(b["id"].to_numpy(), n_pages)
            pdf["tags"] = pdf["tags"].map(json.dumps)
            yield pdf

    df = spark.range(2 * n_pages).mapInPandas(
        gen, schema="building_id long, rings_json string, tags string"
    )
    if include_special:
        sp = special_buildings_pdf()
        sp["tags"] = sp["tags"].map(json.dumps)
        df = df.unionByName(spark.createDataFrame(sp))
    from pyspark.sql import functions as F

    df = _rings_json_to_col(df, spark)
    return df.withColumn("tags", F.from_json("tags", "map<string,string>"))


def synth_existing(spark, n_pages: int):
    def gen(batches):
        for b in batches:
            pdf = existing_pdf(b["id"].to_numpy(), n_pages)
            pdf["tags"] = pdf["tags"].map(json.dumps)
            yield pdf

    from pyspark.sql import functions as F

    df = spark.range(2 * n_pages).mapInPandas(
        gen, schema="node_id long, lon double, lat double, tags string"
    )
    return df.withColumn("tags", F.from_json("tags", "map<string,string>"))


def synth_gazetteer(spark, n_pages: int):
    def gen(batches):
        for b in batches:
            yield gazetteer_pdf(b["id"].to_numpy(), n_pages)

    return spark.range(2 * n_pages).mapInPandas(
        gen, schema="city string, street_norm string, hn_norm string, lon double, lat double"
    )
