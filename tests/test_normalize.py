"""F1–F4 pinned fixtures (FIXTURES.md §3) + idempotence properties."""

import pandas as pd

from osm_addr_tools_spark.functions import normalize as N

HN_CASES = [
    ("12 a", "12A"),
    ("012", "12"),
    ("12/3", "12/3"),
    ("12\\3", "12/3"),
    (" 7 ", "7"),
    ("12A", "12A"),
    ("", ""),
    ("12 / 3", "12/3"),
    ("007", "7"),
    ("10", "10"),
    ("100", "100"),
    ("12  b", "12B"),
]

STREET_CASES = [
    ("Ul. Długa", "długa"),
    ("ul.   Krótka 3 Maja", "krótka 3 maja"),
    ("Al. Jerozolimskie", "aleja jerozolimskie"),
    ("ULICA Długa", "długa"),
    ("Pl. Wolności", "plac wolności"),
    ("Main St.", "main st"),
    ("Park Ave.", "park ave"),
    ("Os. Zielone", "osiedle zielone"),
    ("  kwiatowa  ", "kwiatowa"),
    ("", ""),
    # r4 idempotence regressions (VERDICT r3 #1): punctuation-wrapped and
    # stacked leading designators must reach the canonical in ONE pass
    (".sT", "street"),
    ('.ul Długa', "długa"),
    ('"st" main', "street main"),
    ("ul. pl. Wolności", "plac wolności"),
    ("ul", ""),
    ("pl", "plac"),
]


def test_norm_housenumber_fixtures():
    got = N.norm_housenumber(pd.Series([c[0] for c in HN_CASES]))
    assert got.tolist() == [c[1] for c in HN_CASES]


def test_norm_street_fixtures():
    got = N.norm_street(pd.Series([c[0] for c in STREET_CASES]))
    assert got.tolist() == [c[1] for c in STREET_CASES]


def test_idempotence():
    hn = pd.Series([c[0] for c in HN_CASES])
    st = pd.Series([c[0] for c in STREET_CASES])
    assert N.norm_housenumber(N.norm_housenumber(hn)).tolist() == N.norm_housenumber(hn).tolist()
    assert N.norm_street(N.norm_street(st)).tolist() == N.norm_street(st).tolist()


def test_street_similarity_pinned():
    a = pd.Series(["długa", "długa", "abc", ""])
    b = pd.Series(["długa", "długą", "xyz", ""])
    got = N.street_similarity(a, b)
    assert got[0] == 1.0
    assert 0.7 < got[1] < 1.0
    assert got[2] == 0.0
    assert got[3] == 1.0  # both empty → ratio 1 by difflib convention


def test_addr_key_street_place_fallback():
    key = N.norm_address(
        pd.Series(["Adamowo", "Adamowo"]),
        pd.Series(["Ul. Długa", None]),
        pd.Series(["12 a", "012"]),
        place=pd.Series([None, "Os. Zielone"]),
    )["addr_key"]
    assert key.tolist() == ["adamowo|długa|12A", "adamowo|osiedle zielone|12"]


def test_street_similarity_blocking_is_lossless():
    """The tau fast path (length-band + char-multiset bound) must keep the
    >= tau pair set AND the surviving ratios identical, while cutting exact
    matcher calls ~10x on a stress vocabulary (VERDICT r2 #2)."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(42)
    alphabet = list("abcdefghijklmnopqrstuvwxyz")
    base = ["".join(rng.choice(alphabet, rng.integers(4, 14))) for _ in range(120)]
    vocab = list(base)
    for s in base[:40]:  # planted near-duplicates: 1-char edits + drops
        i = int(rng.integers(0, len(s)))
        vocab.append(s[:i] + str(rng.choice(alphabet)) + s[i + 1:])
        vocab.append(s[:i] + s[i + 1:])
    pairs = [(a, b) for a, b in itertools.product(vocab, vocab) if a != b]
    pa = pd.Series([p[0] for p in pairs])
    pb = pd.Series([p[1] for p in pairs])
    tau = 0.75

    N.EXACT_RATIO_CALLS = 0
    exact = N.street_similarity(pa, pb)
    exact_calls = N.EXACT_RATIO_CALLS

    # JVM-side band replica: 2*min >= tau*(la+lb)
    la = pa.str.len().to_numpy()
    lb = pb.str.len().to_numpy()
    band = 2 * np.minimum(la, lb) >= tau * (la + lb)
    N.EXACT_RATIO_CALLS = 0
    blocked = N.street_similarity(pa[band], pb[band], tau=tau)
    blocked_calls = N.EXACT_RATIO_CALLS

    accepted_exact = {
        (a, b) for (a, b), r in zip(pairs, exact) if r >= tau
    }
    accepted_blocked = {
        (a, b)
        for (a, b), r in zip(
            [p for p, keep in zip(pairs, band) if keep], blocked
        )
        if r >= tau
    }
    assert accepted_exact == accepted_blocked
    assert len(accepted_exact) >= 40  # the planted typos actually survive
    # accepted pairs keep their EXACT ratio (ranking unchanged)
    idx = {p: i for i, p in enumerate(pairs)}
    bidx = {p: i for i, p in enumerate([p for p, k in zip(pairs, band) if k])}
    for p in accepted_exact:
        assert exact.iloc[idx[p]] == blocked.iloc[bidx[p]]
    assert blocked_calls * 10 <= exact_calls, (blocked_calls, exact_calls)
