"""Property-based tests (hypothesis) over the pure-Python kernels —
beyond the reference's test strategy (SURVEY §5: 'property-based
testing: not present'). No SparkSession needed; these run in ms."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from scida_spark.sources.convert import plan_splits, prune_splits_for_uid_range
from scida_spark.units import Unit, UnitRegistry


# --- split planning: every row covered exactly once ------------------------


@given(
    files=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=8),
    target=st.integers(min_value=1, max_value=1024),
)
@settings(max_examples=200, deadline=None)
def test_plan_splits_partitions_rows_exactly_once(files, target):
    file_rows = [(f"f{i}", n) for i, n in enumerate(files)]
    splits = plan_splits(file_rows, "c", target)
    # Global uid coverage: [0, sum) with no gaps or overlaps.
    ranges = sorted(
        (s.uid_start, s.uid_start + (s.row_stop - s.row_start)) for s in splits
    )
    total = sum(files)
    covered = 0
    prev_end = 0
    for lo, hi in ranges:
        assert lo == prev_end
        covered += hi - lo
        prev_end = hi
    assert covered == total
    # File-local ranges never exceed the file or the target size.
    sizes = dict(file_rows)
    for s in splits:
        assert 0 <= s.row_start < s.row_stop <= sizes[s.file]
        assert s.row_stop - s.row_start <= target


@given(
    files=st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=5),
    target=st.integers(min_value=1, max_value=256),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_prune_keeps_exactly_overlapping_splits(files, target, data):
    total = sum(files)
    lo = data.draw(st.integers(min_value=0, max_value=total))
    hi = data.draw(st.integers(min_value=lo, max_value=total))
    splits = plan_splits([(f"f{i}", n) for i, n in enumerate(files)], "c", target)
    pruned = prune_splits_for_uid_range(splits, lo, hi)
    for s in splits:
        n = s.row_stop - s.row_start
        overlaps = s.uid_start < hi and s.uid_start + n > lo
        assert (s in pruned) == overlaps


# --- unit algebra: group laws ----------------------------------------------

_unit_names = st.sampled_from(["cm", "g", "s", "km", "kpc", "Msun", "Gyr"])


@given(a=_unit_names, b=_unit_names, c=_unit_names)
@settings(max_examples=100, deadline=None)
def test_unit_mul_associative_and_inverse(a, b, c):
    reg = UnitRegistry()
    ua, ub, uc = reg[a], reg[b], reg[c]
    lhs = (ua * ub) * uc
    rhs = ua * (ub * uc)
    assert lhs.same_dimensions(rhs)
    assert abs(lhs.scale - rhs.scale) <= 1e-9 * abs(lhs.scale)
    ident = (ua / ub) * ub
    assert ident.same_dimensions(ua)
    assert abs(ident.scale - ua.scale) <= 1e-9 * abs(ua.scale)


@given(a=_unit_names, p=st.integers(min_value=-3, max_value=3))
@settings(max_examples=100, deadline=None)
def test_unit_power_matches_repeated_mul(a, p):
    reg = UnitRegistry()
    u = reg[a]
    powed = u ** p
    manual = Unit.dimensionless()
    for _ in range(abs(p)):
        manual = manual * u if p > 0 else manual / u
    assert powed.same_dimensions(manual)
    assert abs(powed.scale - manual.scale) <= 1e-6 * max(abs(manual.scale), 1e-300)


@given(a=_unit_names, b=_unit_names)
@settings(max_examples=100, deadline=None)
def test_conversion_roundtrip(a, b):
    reg = UnitRegistry()
    ua, ub = reg[a], reg[b]
    if not ua.same_dimensions(ub):
        return
    f = ua.conversion_factor(ub)
    g = ub.conversion_factor(ua)
    assert abs(f * g - 1.0) < 1e-12


# --- Gopher repetition kernel vs an independent quadratic oracle -----------


@given(
    toks=st.lists(
        st.sampled_from(["a", "b", "c", "aa", "x"]), min_size=1, max_size=40
    )
)
@settings(max_examples=300, deadline=None)
def test_repetition_kernel_matches_naive_oracle(toks):
    from itertools import groupby

    from scida_spark.functions.text import repetition_kernel

    text = " ".join(toks)
    top, run = repetition_kernel([text])
    # independent oracle: quadratic bigram count / groupby run lengths
    bigrams = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
    exp_top = max((bigrams.count(b) for b in bigrams), default=0)
    exp_run = max(len(list(g)) for _, g in groupby(toks))
    assert top[0] == exp_top
    assert run[0] == exp_run


# --- spatial cell pruning: conservative completeness -----------------------


@given(
    center=st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
    width=st.floats(min_value=0.1, max_value=99.0, allow_nan=False),
    x=st.floats(min_value=0.0, max_value=99.999, allow_nan=False),
)
@settings(max_examples=500, deadline=None)
def test_cells_overlapping_never_drops_an_inside_point(center, width, x):
    """Completeness: any point strictly inside the periodic slab must
    land in a cell that cells_overlapping keeps — pruning may read
    extra cells, never fewer."""
    from scida_spark.operators.spatial import cells_overlapping

    box, ncells = 100.0, 8
    d = abs(x - center)
    d = box - d if d > box / 2 else d
    if d >= width / 2:  # not inside the slab
        return
    cell = min(ncells - 1, int(x / (box / ncells)))
    assert cell in cells_overlapping(center, width, box, ncells)


# --- domain-mix thresholds: integer-exact invariants -----------------------


@given(
    counts=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=10**9),
        min_size=1,
        max_size=4,
    ),
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=100),
        min_size=4,
        max_size=4,
    ),
)
@settings(max_examples=200, deadline=None)
def test_mix_thresholds_invariants(counts, weights):
    from fractions import Fraction

    from scida_spark.functions.sampling import BUCKET_SPACE, mix_thresholds

    thr = mix_thresholds(counts, weights)
    assert set(thr) == set(counts)
    m = min(counts, key=lambda d: (Fraction(counts[d], weights[d]), d))
    # The constraining domain keeps everything; no threshold exceeds
    # the bucket space; expected kept mass tracks the target shares.
    assert thr[m] == BUCKET_SPACE
    for d in thr:
        assert 0 <= thr[d] <= BUCKET_SPACE
        # floor identity: thr_d = floor(w_d*c_m*S / (w_m*c_d))
        assert thr[d] == (weights[d] * counts[m] * BUCKET_SPACE) // (
            weights[m] * counts[d]
        )


# --- sequence packing kernel: conservation + budget ------------------------


@given(
    toks=st.lists(st.integers(min_value=1, max_value=700), min_size=0, max_size=60),
    budget=st.integers(min_value=8, max_value=512),
)
@settings(max_examples=150, deadline=None)
def test_packing_kernel_conserves_tokens_and_respects_budget(toks, budget):
    import pandas as pd

    from scida_spark.functions.packing import greedy_pack_frames

    pdf = pd.DataFrame({"_id": list(range(len(toks))), "_tok": toks})
    out = pd.concat(list(greedy_pack_frames(iter([pdf]), budget)), ignore_index=True)
    if not toks:
        assert len(out) == 0
        return
    packed_ids = [i for ids in out["doc_ids"] for i in ids]
    assert sorted(packed_ids) == list(range(len(toks)))
    assert list(out["total_tokens"]) == [
        sum(toks[i] for i in ids) for ids in out["doc_ids"]
    ]
    ok = out[~out["oversize"]]
    over = out[out["oversize"]]
    assert (ok["total_tokens"] <= budget).all()
    assert all(len(ids) == 1 for ids in over["doc_ids"])
    assert (over["total_tokens"] > budget).all()


# --- BPE incremental pair bookkeeping vs a naive recount oracle ------------


def _naive_bpe(wc, n_merges):
    """Reference implementation: recount ALL pairs every iteration."""
    from collections import Counter

    from scida_spark.functions.bpe import _segment

    wc = sorted(wc, key=lambda t: (-t[1], t[0]))
    segs = {w: _segment(w) for w, _ in wc}
    counts = dict(wc)
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, seg in segs.items():
            for p in zip(seg, seg[1:]):
                pc[p] += counts[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w, seg in segs.items():
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and (seg[i], seg[i + 1]) == best:
                    out.append(seg[i] + seg[i + 1])
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    n_merges=st.integers(min_value=0, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_bpe_incremental_matches_naive_recount(words, n_merges):
    from scida_spark.functions.bpe import learn_bpe

    assert learn_bpe(words, n_merges) == _naive_bpe(words, n_merges)


@given(word=st.text(alphabet="abcd", min_size=1, max_size=10))
@settings(max_examples=200, deadline=None)
def test_bpe_encode_rebuilds_word(word):
    from scida_spark.functions.bpe import encode_word, learn_bpe

    merges = learn_bpe([(word, 3), (word[::-1], 2)], 6)
    ranks = {p: i for i, p in enumerate(merges)}
    toks = encode_word(word, ranks)
    assert "".join(toks) == word + "</w>"
