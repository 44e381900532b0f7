"""osm_addr_tools_spark — a from-scratch PySpark-native address-conflation,
spatial-join and tiling engine.

Re-imagines the capabilities of the ``zibik/osm-addr-tools`` reference family
(OSM address import/conflation) as an idiomatic Spark DataFrame engine over
Common-Crawl-style web-page tables, per the blueprint in SURVEY.md.

The reference checkout at /root/reference is empty in this sandbox
(SURVEY.md §0); the normative spec is BASELINE.json's north_star/north_rule
plus the expanded semantics in SURVEY.md. No reference code was available to
copy, cite, or port — everything here derives from the public OSM data model,
the public S2 geometry spec, and the Apache Spark API.

Layout
------
functions/   pure NumPy/pandas kernels + pandas-UDF wrappers (cells, normalize,
             text extraction, sketches, geo math)
sources/     pages reader (parquet|iceberg binding) and the synthetic
             deterministic generators
operators/   DataFrame-level composite operators (cell joins, salted skew
             joins, PIP containment, kNN, dedup family, ANN similarity)
plans/       end-to-end entry points EP1 extract / EP2 conflate / EP3 tile,
             checkpoint-manifest resume
"""

__version__ = "0.1.0"
