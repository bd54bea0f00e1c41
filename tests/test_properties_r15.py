"""Randomized/invariant contracts for the r15 surfaces:

* winnow_anchors: the auto split is INVISIBLE — for any
  ``arrow_min_len`` threshold (everything-codegen, mixed,
  everything-arrow) and any input partitioning, the anchor set is
  identical on corpora with mixed doc lengths, ties, and multi-byte
  text.
* PNG: encode→decode roundtrips bit-exact on randomized shapes and
  per-image random filter sequences (beyond the fixed parametrized
  cases).
"""

from __future__ import annotations

import random

import numpy as np


def test_winnow_threshold_and_partitioning_invariance(spark):
    from scida_spark.functions.dedup import winnow_anchors

    rng = random.Random(99)
    alph = "abcdefgh é"
    rows = []
    for i in range(30):
        n = rng.choice([0, 3, 15, 16, 17, 40, 80, 200, 700, 1500])
        rows.append((i, "".join(rng.choice(alph) for _ in range(n))))
    rows.append((100, "x" * 300))  # all-identical grams: pure ties
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def anchors(frame, **kw):
        return {
            (r["doc_id"], r["h"], r["pos"])
            for r in winnow_anchors(
                frame, "doc_id", "text", k=8, window=12, **kw
            ).collect()
        }

    base = anchors(df, engine="codegen")
    assert base  # non-vacuous
    for thr in (0, 50, 10**9):
        assert anchors(df, arrow_min_len=thr) == base, thr
    assert anchors(df.repartition(7), arrow_min_len=50) == base
    # NULL text emits nothing on every path (codegen: null length →
    # zero grams; arrow: skipped; auto: filtered out of both branches)
    withnull = df.unionAll(
        spark.createDataFrame([(500, None)], "doc_id long, text string")
    )
    for kw in ({"engine": "codegen"}, {"engine": "arrow"}, {"arrow_min_len": 50}):
        assert anchors(withnull, **kw) == base, kw


def test_winnow_astral_plane_utf8_equivalence(spark):
    """4-byte UTF-8 (astral-plane emoji) counts as ONE character in
    both engines — Spark's UTF8String substr walks code points and
    Python slices by code point — so the two winnow paths stay
    bit-identical on text where bytes != chars by 4x."""
    from scida_spark.functions.dedup import winnow_anchors

    t = ("🚀data🧪" * 60) + "plain ascii tail " * 10
    df = spark.createDataFrame(
        [(0, t), (1, "🎯" * 40)], "doc_id long, text string"
    )
    cg = {
        (r["doc_id"], r["h"], r["pos"])
        for r in winnow_anchors(
            df, "doc_id", "text", k=8, window=10, engine="codegen"
        ).collect()
    }
    ar = {
        (r["doc_id"], r["h"], r["pos"])
        for r in winnow_anchors(
            df, "doc_id", "text", k=8, window=10, engine="arrow"
        ).collect()
    }
    assert cg == ar and cg


def test_png_roundtrip_randomized():
    from scida_spark.functions import multimodal as M

    rng = np.random.RandomState(1234)
    pyr = random.Random(1234)
    for _ in range(25):
        h, w = pyr.randint(1, 40), pyr.randint(1, 40)
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        filters = tuple(pyr.randint(0, 4) for _ in range(pyr.randint(1, 6)))
        out = M.decode_image(M.encode_png(img, filters))
        assert out.shape == (h, w, 3) and (out == img).all(), (h, w, filters)
