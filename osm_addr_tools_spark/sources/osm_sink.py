"""S4 — OSM-change-style sink (SURVEY.md §2.1 S4, optional).

Serializes the conflation matches table as OsmChange-style XML payloads —
the output format the reference family emits for JOSM/upload tooling [R].
Spark-first shape: one ``mapInPandas`` pass renders an XML fragment column
(never ``toPandas()`` on the driver), then the standard text sink writes
one shard per partition; a tiny driver-side wrapper adds the document
envelope when a single file is requested.

Semantics (pinned here):
  create  → <create><node id="-k" .../></create> (fresh negative ids,
            deterministic: -(row number in (hash bucket, addr_key, url) order))
  update  → <modify><node id="{matched_ref}" .../></modify> with merged tags
  attach  → <modify><way id="{matched_ref}"/></modify> carrying the address
            tags onto the building
  duplicate → omitted (no edit)
  nearest → emitted as <create> with a fixme tag pointing at the nearby node
            (conservative: the reference family flags rather than merges
            ambiguous nearest matches)
"""

from __future__ import annotations

from collections.abc import Iterator
from xml.sax.saxutils import escape, quoteattr

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_tools_spark.operators.prefix_sum import _prefix


def _node_xml(el_id: int, lon: float, lat: float, tags: dict) -> str:
    tag_xml = "".join(
        f"<tag k={quoteattr(str(k))} v={quoteattr(str(v))}/>"
        for k, v in sorted((tags or {}).items())
    )
    return (
        f'<node id="{el_id}" lon="{lon:.7f}" lat="{lat:.7f}" version="1">'
        f"{tag_xml}</node>"
    )


N_ID_BUCKETS = 1 << 10


def _with_negative_ids(df: DataFrame) -> DataFrame:
    """Deterministic dense negative ids WITHOUT a global single-partition
    window (VERDICT r1 #3 — ``Window.orderBy`` with no partitionBy pulls
    every row through one task; at 10^12 docs that is THE sink bottleneck).

    The prefix-sum core (operators/prefix_sum.py) counts rows over
    ``N_ID_BUCKETS`` deterministic hash buckets (xxhash64 of the sort key
    — independent of physical partitioning) in place of its monotone
    range buckets, so ``new_id`` = -(1-based row number in the order
    (bucket, addr_key, url)) — deterministic and dense, not globally
    lexicographic; OsmChange consumers only need stable uniqueness.
    """
    bucket = F.pmod(F.xxhash64("addr_key", "url"), F.lit(N_ID_BUCKETS)).cast("int")
    ids = _prefix(df.withColumn("_psb", bucket), ["addr_key", "url"], F.lit(1), "new_id", [], 1)
    return ids.withColumn("new_id", -F.col("new_id"))


def matches_to_osmchange(matches: DataFrame) -> DataFrame:
    """matches → (kind string, xml string) fragments, one row per edit."""
    df = _with_negative_ids(matches.where(F.col("match_kind") != "duplicate"))

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            kinds, xmls = [], []
            for r in b.itertuples():
                tags = dict(r.tags or {})
                if r.match_kind == "create":
                    kinds.append("create")
                    xmls.append(_node_xml(int(r.new_id), r.lon, r.lat, tags))
                elif r.match_kind == "nearest":
                    tags["fixme"] = f"verify near node {int(r.matched_ref)} ({r.dist_m:.1f} m)"
                    kinds.append("create")
                    xmls.append(_node_xml(int(r.new_id), r.lon, r.lat, tags))
                elif r.match_kind == "update":
                    kinds.append("modify")
                    xmls.append(_node_xml(int(r.matched_ref), r.lon, r.lat, tags))
                elif r.match_kind == "attach":
                    tag_xml = "".join(
                        f"<tag k={quoteattr(str(k))} v={quoteattr(str(v))}/>"
                        for k, v in sorted(tags.items())
                    )
                    kinds.append("modify")
                    xmls.append(
                        f'<way id="{int(r.matched_ref)}" version="1">{tag_xml}</way>'
                    )
            yield pd.DataFrame({"kind": kinds, "xml": xmls})

    return df.mapInPandas(render, schema="kind string, xml string")


def write_osmchange(matches: DataFrame, path: str) -> None:
    """Write sharded OsmChange fragments: <path>/create/ and <path>/modify/
    text parts (the distributed form; a consumer concatenates inside the
    envelope <osmChange version="0.6">…</osmChange>)."""
    frags = matches_to_osmchange(matches)
    for kind in ("create", "modify"):
        frags.where(F.col("kind") == kind).select("xml").write.mode(
            "overwrite"
        ).text(f"{path}/{kind}")


def osmchange_document(matches: DataFrame) -> str:
    """Small-output convenience: the full OsmChange document as one string
    (test/fixture scale only — collects the fragments; canonical order is
    the sorted fragment text, independent of partition arrival order)."""
    rows = sorted(matches_to_osmchange(matches).collect(), key=lambda r: r.xml)
    create = "".join(r.xml for r in rows if r.kind == "create")
    modify = "".join(r.xml for r in rows if r.kind == "modify")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osmChange version="0.6" generator="osm_addr_tools_spark">'
        f"<create>{create}</create><modify>{modify}</modify></osmChange>"
    )
