"""X1 extraction goldens — one pinned byte-case per SURVEY §7.5 rule, plus a
kitchen-sink page — and the X2 address-grammar cases."""

import pandas as pd

from osm_addr_tools_spark.functions import text as T
from osm_addr_tools_spark.functions.text import (
    extract_text_one,
    parse_addresses_one,
)
from tests.reference import fingerprint64

# (html bytes, expected extracted text) — these goldens are normative.
X1_CASES = [
    # 1 plain text passthrough
    (b"hello world", "hello world"),
    # 2 utf-8 replacement decoding
    (b"caf\xc3\xa9 \xff ok", "café � ok"),
    # 3 script span dropped (case-insensitive, content with tags inside)
    (b"a<SCRIPT>x<b>y</b></sCrIpT>b", "ab"),
    # 4 style span dropped
    (b"a<style media='x'>p{color:red}</style>b", "ab"),
    # 5 comment dropped
    (b"a<!-- <div>no</div> -->b", "ab"),
    # 6 unterminated script drops to EOF
    (b"keep<script>lost forever", "keep"),
    # 7 block tags become newlines; inline tags vanish
    (b"<h1>T</h1><p>a<b>bold</b></p><div>c</div>", "T\nabold\nc"),
    # 8 li/tr/br are block-level
    (b"x<br>y<li>z</li><tr>w</tr>", "x\ny\nz\nw"),
    # 9 the five xml entities + nbsp, single pass (no double decode)
    (b"&amp;lt; &lt;&gt; &quot;q&apos; a&nbsp;b", '&lt; <> "q\' a b'),
    # 10 numeric entities, decimal + hex + invalid surrogate
    (b"&#322; &#x119; &#xD800;", "ł ę �"),
    # 11 whitespace collapse: tabs/spaces -> one space, newline runs -> one \n
    (b"a \t b\n\n  \n c", "a b\nc"),
    # 12 unterminated '<' with no closing '>' anywhere stays literal
    (b"5 < 6 and 7", "5 < 6 and 7"),
    # kitchen sink
    (
        b"<html><head><title>T1</title><style>s{}</style>"
        b"<script>if(1<2){}</script></head><body><!-- c -->"
        b"<h1>Oferta</h1><div class='a'><p>ul. D&#322;uga 12,&nbsp;00-001 X</p></div>"
        b"<ul><li>i1</li></ul></body></html>",
        "T1\nOferta\nul. Długa 12, 00-001 X\ni1",
    ),
]


def test_x1_goldens():
    for html, expect in X1_CASES:
        assert extract_text_one(html) == expect, html


def test_x1_deterministic_and_pure():
    for html, _ in X1_CASES:
        assert extract_text_one(html) == extract_text_one(html)
    assert extract_text_one(b"") == ""
    assert extract_text_one(None) == ""


PARSE_CASES = [
    ("ul. Długa 12, 00-001 Adamowo", [("ul. Długa", "12", "00-001", "Adamowo")]),
    ("Krótka 3 Maja 12 a, 10-100 Borkowo", [("Krótka 3 Maja", "12 a", "10-100", "Borkowo")]),
    ("Main St. 5/2, Adamowo", [("Main St.", "5/2", None, "Adamowo")]),
    ("no address here", []),
    ("Opis: lokal, cena 100.", []),
    (
        "ul. A 1, 00-001 X\nul. B 2, 00-002 Y",
        [("ul. A", "1", "00-001", "X"), ("ul. B", "2", "00-002", "Y")],
    ),
]


def test_x2_grammar():
    for text, expect in PARSE_CASES:
        got = [
            (a["street"], a["housenumber"], a["postcode"], a["city"])
            for a in parse_addresses_one(text)
        ]
        assert got == expect, text


def _winnow_naive(text, k=8, w=16):
    """O(n·w) reference winnowing: plain-Python polynomial hash + per-window
    rightmost-min scan."""
    data = text.encode("utf-8")
    if len(data) < k:
        return []
    M = 1 << 64
    hs = []
    for i in range(len(data) - k + 1):
        h = 0
        for j in range(k):
            h = (h * 257 + data[i + j]) % M
        hs.append(h)
    sel = {}
    n_windows = max(1, len(hs) - w + 1)
    for s in range(n_windows):
        win = hs[s : s + w]
        m = min(win)
        p = s + max(i for i, v in enumerate(win) if v == m)
        sel[p] = hs[p]
    to_signed = lambda v: v - (1 << 64) if v >= (1 << 63) else v
    return sorted((p, to_signed(v)) for p, v in sel.items())


def test_winnow_matches_naive():
    cases = [
        "the quick brown fox jumps over the lazy dog and runs far away",
        "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",  # all-tie stress: rightmost rule
        "short",                            # < k bytes: no fingerprints
        "exactly8",                         # exactly one gram
        "a bit longer than k but fewer grams than one window",
    ]
    for t in cases:
        assert T.winnow_fingerprints(t) == _winnow_naive(t), t[:20]


def test_winnow_shift_resistance():
    """The winnowing point: an edit far from a passage leaves that
    passage's fingerprints intact — exact whole-doc hashing loses all."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    shifted = "INSERTED PREFIX CHANGES EVERYTHING UP FRONT " + base
    fp_a = {v for _, v in T.winnow_fingerprints(base)}
    fp_b = {v for _, v in T.winnow_fingerprints(shifted)}
    # the shared suffix dominates both docs: most of base's fingerprints
    # must survive the prefix insertion (positions shift, values don't)
    assert len(fp_a & fp_b) / len(fp_a) > 0.8
    assert fingerprint64(pd.Series([base]))[0] != fingerprint64(pd.Series([shifted]))[0]


def test_token_count_oracle_regex_agrees_on_exotic_whitespace():
    """ADVICE r3: the DuckDB BPE-oracle regex must treat \\f and \\v as
    whitespace exactly like the Python kernel's [^\\w\\s] does — a future
    corpus containing them must not silently diverge."""
    import duckdb
    import pandas as pd

    from osm_addr_tools_spark.functions import text as T
    from osm_addr_tools_spark.queries import ORACLES

    sql_regex = None
    for pat in ("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9_ \\t\\n\\r\\f\\x0B]",):
        if pat in (ORACLES.get("docs_token_stats") or ""):
            sql_regex = pat
    assert sql_regex, "docs_token_stats oracle regex changed — update this test"

    samples = pd.Series(
        ["a\fb", "a\vb", "x\f\v!", "plain words", "tab\tsep", "sym!@# 12ab3"]
    )
    kernel = T.token_count(samples).tolist()
    con = duckdb.connect()
    got = [
        con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [s, sql_regex]
        ).fetchone()[0]
        for s in samples
    ]
    assert got == kernel, (got, kernel)
