"""Property-based tests (hypothesis) for the driver-side kernels:
suffix-array LCS and the collision-probability planners. All pure
NumPy/Python — no Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lsh_qd_spark.operators.suffix import (
    lcp_array,
    longest_common_substring,
    suffix_array,
)
from lsh_qd_spark.params import (
    binom_tail_all_alphas,
    collision_prob,
    collision_prob_alpha,
    plan_minhash,
)

short_text = st.text(alphabet="abc ", min_size=0, max_size=40)


def _lcs_brute(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


@settings(max_examples=80, deadline=None)
@given(short_text, short_text)
def test_lcs_matches_bruteforce(a, b):
    assert longest_common_substring(a, b) == _lcs_brute(a, b)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(2, 5), min_size=1, max_size=60))
def test_suffix_array_is_sorted_suffix_order(codes):
    arr = np.array(codes, dtype=np.int64)
    sa = suffix_array(arr)
    suffixes = [tuple(arr[i:]) for i in range(len(arr))]
    assert [suffixes[i] for i in sa] == sorted(suffixes)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(2, 4), min_size=2, max_size=60))
def test_lcp_matches_common_prefix(codes):
    arr = np.array(codes, dtype=np.int64)
    sa = suffix_array(arr)
    lcp = lcp_array(arr, sa)

    def common_prefix(i, j):
        k = 0
        while i + k < len(arr) and j + k < len(arr) and arr[i + k] == arr[j + k]:
            k += 1
        return k

    for r in range(1, len(arr)):
        assert lcp[r] == common_prefix(sa[r], sa[r - 1])


sim = st.floats(0.05, 0.95)
kl = st.tuples(st.integers(1, 8), st.integers(1, 64))


@settings(max_examples=100, deadline=None)
@given(sim, sim, kl)
def test_collision_prob_monotone_in_sim(s_lo, s_hi, kl):
    s1, s2 = sorted((s_lo, s_hi))
    k, l = kl
    assert collision_prob(s1, k, l) <= collision_prob(s2, k, l) + 1e-12


@settings(max_examples=100, deadline=None)
@given(sim, kl)
def test_alpha_one_equals_vanilla(s, kl):
    k, l = kl
    assert abs(
        collision_prob_alpha(s, k, l, 1) - collision_prob(s, k, l)
    ) < 1e-9


@settings(max_examples=100, deadline=None)
@given(st.floats(0.01, 0.99), st.integers(1, 40))
def test_binom_tail_cumsum_matches_direct(p, l):
    from math import comb

    tails = binom_tail_all_alphas(p, l)
    for alpha in (1, max(1, l // 2), l):
        direct = sum(
            comb(l, i) * p**i * (1 - p) ** (l - i) for i in range(alpha, l + 1)
        )
        assert abs(tails[alpha - 1] - direct) < 1e-9


@settings(max_examples=40, deadline=None)
@given(
    st.floats(0.6, 0.95),
    st.floats(0.05, 0.4),
    st.floats(0.9, 0.999),
    st.floats(0.05, 0.3),
)
def test_plan_minhash_meets_its_constraints(s1, s2, min_recall, max_fp):
    try:
        plan = plan_minhash(s1, s2, min_recall, max_fp)
    except ValueError:
        return  # infeasible combination — allowed to refuse
    assert plan.p_near >= min_recall - 1e-12
    assert plan.p_far <= max_fp + 1e-12


# ---------------------------------------------------------------------------
# PNG codec properties (round 4): round-trip identity over random content /
# shape / color type / filter, and decode() total on malformed bytes —
# every failure is a clean ValueError, never an unhandled crash.


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    ftype=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(h, w, ch, ftype, seed):
    from lsh_qd_spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img, filter_type=ftype)), img)


@settings(max_examples=120, deadline=None)
@given(data=st.binary(max_size=300), seed=st.integers(0, 2**31 - 1))
def test_png_decode_total_on_malformed(data, seed):
    """decode_png on arbitrary bytes — including byte-flipped real PNGs —
    either returns an array or raises ValueError/zlib.error; anything
    else (IndexError, struct.error, segfault-shaped surprises) would fail
    a whole executor task 4x in production."""
    import zlib

    from lsh_qd_spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    real = bytearray(encode_png(img, filter_type=int(seed) % 5))
    # corrupt a few bytes of a real PNG (past the 8-byte signature so the
    # chunk machinery actually engages), and also try raw noise
    for payload in (bytes(data), b"\x89PNG\r\n\x1a\n" + bytes(data)):
        try:
            decode_png(payload)
        except (ValueError, zlib.error):
            pass
    if len(real) > 16:
        pos = 8 + int(rng.integers(0, len(real) - 9))
        real[pos] ^= 0xFF
        try:
            decode_png(bytes(real))
        except (ValueError, zlib.error):
            pass


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    n_pal=st.integers(1, 256),
    ftype=st.integers(0, 4),
    with_trns=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_palette_roundtrip_property(h, w, n_pal, ftype, with_trns, seed):
    """Palette PNG (round 5): encode→decode is identity on the expanded
    RGB(A) pixels for any shape / palette size / filter / tRNS length."""
    from lsh_qd_spark.multimodal import decode_png, encode_png_palette

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_pal, 3), dtype=np.uint8)
    idx = rng.integers(0, n_pal, (h, w), dtype=np.uint8)
    trns = (
        bytes(rng.integers(0, 256, int(rng.integers(0, n_pal + 1)),
                           dtype=np.uint8))
        if with_trns
        else None
    )
    got = decode_png(encode_png_palette(idx, pal, trns=trns, filter_type=ftype))
    expect = pal[idx]
    if trns is not None:
        alut = np.full(n_pal, 255, dtype=np.uint8)
        alut[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
        expect = np.dstack([expect, alut[idx]])
    assert np.array_equal(got, expect)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    ch=st.sampled_from([1, 2, 3, 4]),
    ftype=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_adam7_roundtrip_property(h, w, ch, ftype, seed):
    """Adam7 interlace (round 5): encode→decode identity for any shape —
    the empty-pass edge cases (w or h < 5) are where a pass-grid bug
    would hide."""
    from lsh_qd_spark.multimodal import decode_png, encode_png_adam7

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(
        decode_png(encode_png_adam7(img, filter_type=ftype)), img
    )

