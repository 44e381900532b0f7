"""Multimodal plumbing tests."""

import numpy as np

from osm_addr_tools_spark.operators import multimodal as M


def test_media_decode_roundtrip(spark):
    media = M.synth_media(spark, 300)
    dec = M.decode_media(media).toPandas()
    assert len(dec) == 300
    assert dec.ok.all()
    assert set(dec.kind) == {"image", "audio", "video"}
    # header fields deterministic from id
    row = dec[dec.media_id == 17].iloc[0]
    assert row.width == 16 + 17 % 64 and row.height == 16 + (17 * 7) % 48


def test_media_features_shape_and_determinism(spark):
    media = M.synth_media(spark, 100)
    f1 = M.media_features(media).toPandas().sort_values("media_id")
    f2 = M.media_features(media.repartition(7)).toPandas().sort_values("media_id")
    assert all(len(v) == 16 for v in f1.feature)
    for a, b in zip(f1.feature, f2.feature):
        assert np.allclose(a, b)
    norms = [np.linalg.norm(v) for v in f1.feature]
    assert np.allclose(norms, 1.0)
