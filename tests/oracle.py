"""Pure-Python golden oracle for the end-to-end conflation scenario.

Recomputes EP1+EP2 with naive O(n²) loops over the deterministic synthetic
universe — no Spark, no cell index, no joins — so the engine's distributed
plan is gated against an independent slow implementation of the SAME pinned
semantics (SURVEY.md §5.2 / FIXTURES.md §2).

Shared with the engine (deliberately): the scalar kernels norm_street /
norm_housenumber / extract_text / parse_addresses / haversine / ray-cast —
each is pinned by its own byte-level unit fixtures, so sharing them here
does not let a pipeline bug hide. Everything ABOVE the kernels (as-of
dedupe, geocode lookup, key matching, duplicate-vs-update, containment
precedence, kNN tie-breaks) is re-derived naively in this file.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from osm_addr_tools_spark.functions import geo as G
from osm_addr_tools_spark.functions import normalize as N
from osm_addr_tools_spark.functions import text as T
from osm_addr_tools_spark.sources import synth as S

D_MAX_M = 10.0
FUZZY_TAU = 0.75


def oracle_matches(n_pages: int) -> pd.DataFrame:
    ids = np.arange(2 * n_pages)
    pages = S.pages_pdf(ids, n_pages)
    # as-of: keep the newest crawl per url
    pages = pages.sort_values("warc_ts").groupby("url", as_index=False).last()

    gaz = S.gazetteer_pdf(ids, n_pages)
    gaz_lut = {
        (r.city, r.street_norm, r.hn_norm): (r.lon, r.lat)
        for r in gaz.itertuples()
    }

    ex = S.existing_pdf(ids, n_pages)
    ex_tags = ex["tags"].tolist()
    ex_city_norm = pd.Series(
        [t.get("addr:city", "") for t in ex_tags]
    ).str.strip().str.lower()
    ex_street_norm = N.norm_street(
        pd.Series(
            [t.get("addr:street", "") or t.get("addr:place", "") for t in ex_tags]
        )
    )
    ex_hn_norm = N.norm_housenumber(
        pd.Series([t.get("addr:housenumber", "") for t in ex_tags])
    )
    ex_key = ex_city_norm + "|" + ex_street_norm + "|" + ex_hn_norm
    ex = ex.assign(
        addr_key=ex_key.values,
        city_norm=ex_city_norm.values,
        street_norm=ex_street_norm.values,
        hn_norm=ex_hn_norm.values,
        has_postcode=[("addr:postcode" in t) for t in ex_tags],
    )
    # one deterministic node per key: min node_id
    ex_best = (
        ex.sort_values("node_id").groupby("addr_key", as_index=False).first()
    )
    best_by_key = {r.addr_key: r for r in ex_best.itertuples()}
    # fuzzy pool: every node grouped by (city_norm, hn_norm)
    fuzzy_pool: dict[tuple, list] = {}
    for r in ex.itertuples():
        fuzzy_pool.setdefault((r.city_norm, r.hn_norm), []).append(r)

    bl = pd.concat(
        [S.buildings_pdf(ids, n_pages), S.special_buildings_pdf()],
        ignore_index=True,
    )
    unaddressed = [
        (int(r.building_id), json.loads(r.rings_json))
        for r in bl.itertuples()
        if "addr:housenumber" not in r.tags
    ]

    rows = []
    for page in pages.itertuples():
        for cand in T.parse_addresses_one(page.text):
            street_norm = N.norm_street(pd.Series([cand["street"]]))[0]
            hn_norm = N.norm_housenumber(pd.Series([cand["housenumber"]]))[0]
            city_norm = (cand["city"] or "").strip().lower()
            key = f"{city_norm}|{street_norm}|{hn_norm}"
            geo = gaz_lut.get((city_norm, street_norm, hn_norm))
            if geo is None:
                continue  # ungecoded — not emitted
            lon, lat = geo
            base = dict(
                url=page.url,
                addr_key=key,
                city=cand["city"],
                street=cand["street"],
                housenumber=cand["housenumber"],
                postcode=cand["postcode"],
                street_norm=street_norm,
                hn_norm=hn_norm,
                lon=lon,
                lat=lat,
            )
            hit = best_by_key.get(key)
            if hit is not None:
                dist = float(G.haversine_np(lon, lat, hit.lon, hit.lat))
                if hit.has_postcode or cand["postcode"] is None:
                    rows.append(
                        {**base, "match_kind": "duplicate",
                         "matched_ref": int(hit.node_id), "dist_m": dist}
                    )
                else:
                    rows.append(
                        {**base, "match_kind": "update",
                         "matched_ref": int(hit.node_id), "dist_m": dist}
                    )
                continue
            # F3 fuzzy street tie-breaker: same city+hn, similar street
            pool = [
                p
                for p in fuzzy_pool.get((city_norm, hn_norm), [])
                if p.street_norm != street_norm
            ]
            if pool:
                ratios = N.street_similarity(
                    pd.Series([street_norm] * len(pool)),
                    pd.Series([p.street_norm for p in pool]),
                )
                cands = [
                    (float(-r), int(p.node_id), p)
                    for r, p in zip(ratios, pool)
                    if r >= FUZZY_TAU
                ]
                if cands:
                    cands.sort(key=lambda c: (c[0], c[1]))
                    p = cands[0][2]
                    dist = float(G.haversine_np(lon, lat, p.lon, p.lat))
                    kind = (
                        "duplicate"
                        if (p.has_postcode or cand["postcode"] is None)
                        else "update"
                    )
                    rows.append(
                        {**base, "match_kind": kind,
                         "matched_ref": int(p.node_id), "dist_m": dist}
                    )
                    continue
            containing = [
                bid
                for bid, rings in unaddressed
                if G.points_in_polygon(
                    np.array([lon]), np.array([lat]),
                    [np.array(r, dtype=np.float64) for r in rings],
                )[0]
            ]
            if containing:
                rows.append(
                    {**base, "match_kind": "attach",
                     "matched_ref": min(containing), "dist_m": 0.0}
                )
                continue
            d = G.haversine_np(
                np.full(len(ex), lon), np.full(len(ex), lat),
                ex["lon"].to_numpy(), ex["lat"].to_numpy(),
            )
            within = d <= D_MAX_M
            if within.any():
                order = np.lexsort((ex["node_id"].to_numpy()[within], d[within]))
                pick = np.flatnonzero(within)[order[0]]
                rows.append(
                    {**base, "match_kind": "nearest",
                     "matched_ref": int(ex["node_id"].iloc[pick]),
                     "dist_m": float(d[pick])}
                )
            else:
                rows.append(
                    {**base, "match_kind": "create",
                     "matched_ref": None, "dist_m": None}
                )
    out = pd.DataFrame(rows)
    return out.sort_values(["addr_key", "url"]).reset_index(drop=True)
