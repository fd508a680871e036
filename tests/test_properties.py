"""Property-based tests (hypothesis) for the pure-math kernels: Morton
interleave and winnowing fingerprints — driver-side math mirrored against
the Spark column expressions elsewhere (tests/test_zorder.py,
operators/dedup.py)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


def _ref_morton(x: int, y: int, bits: int = 16) -> int:
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def _demorton(z: int, bits: int = 16) -> tuple[int, int]:
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 0xFFFF), st.integers(0, 0xFFFF))
def test_morton_roundtrip_and_monotone_quadrants(x, y):
    z = _ref_morton(x, y)
    assert _demorton(z) == (x, y)
    # high bit of each dim maps to the two top interleaved bits: quadrant
    # identity — the property parquet min/max pruning relies on
    assert (z >> 31) & 1 == (y >> 15) & 1
    assert (z >> 30) & 1 == (x >> 15) & 1


# --- winnowing fingerprint properties (pure-python mirror of
# operators/dedup.py:winnow_fingerprints — identical md5-prefix hash) -------

def _ref_winnow(txt: str, k: int, w: int) -> set[int]:
    import hashlib
    import re

    txt = re.sub(r"\s+", " ", txt.strip()).lower()
    if len(txt) < k + w - 1:
        return set()
    hs = [
        int(hashlib.md5(txt[i : i + k].encode()).hexdigest()[:12], 16)
        for i in range(len(txt) - k + 1)
    ]
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


_WORDS = st.text(alphabet="abcdefghij", min_size=1, max_size=8)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_WORDS, min_size=0, max_size=6),
    st.lists(_WORDS, min_size=0, max_size=6),
    st.lists(_WORDS, min_size=0, max_size=6),
    st.lists(_WORDS, min_size=0, max_size=6),
    st.lists(_WORDS, min_size=5, max_size=12),  # the planted shared passage
)
def test_winnow_guarantee_property(a_pre, a_suf, b_pre, b_suf, passage):
    # THE winnowing guarantee (Schleimer et al. 2003, thm 1): any shared
    # substring of >= w + k - 1 characters yields >= 1 shared fingerprint,
    # for ANY surrounding context
    k, w = 8, 4
    p = " ".join(passage)
    if len(p) < k + w - 1:
        return  # passage too short for the guarantee to apply
    a = " ".join(a_pre + [p] + a_suf)
    b = " ".join(b_pre + [p] + b_suf)
    fa, fb = _ref_winnow(a, k, w), _ref_winnow(b, k, w)
    assert fa & fb, f"no shared fingerprint for shared passage {p!r}"


@settings(max_examples=100, deadline=None)
@given(st.lists(_WORDS, min_size=1, max_size=20))
def test_winnow_normalization_invariance_and_bounds(words):
    k, w = 8, 4
    txt = " ".join(words)
    fps = _ref_winnow(txt, k, w)
    # case / whitespace-run invariance (the normalize_text contract)
    assert fps == _ref_winnow("  " + txt.upper().replace(" ", "   ") + " ", k, w)
    n_grams = max(len(txt) - k + 1, 0)
    if n_grams < w:
        assert fps == set()
    else:
        # bounds: at least one fp per w windows (each window-min value can
        # cover at most w consecutive windows... repeated substrings can
        # collapse values, so only assert the trivial floor), at most one
        # per window
        assert 1 <= len(fps) <= n_grams - w + 1


def _ref_winnow_raw(txt: str, k: int, w: int) -> set[int]:
    """Like _ref_winnow but WITHOUT normalization — chunking operates on
    the already-normalized text, so the chunk mirror must not re-strip."""
    import hashlib

    if len(txt) < k + w - 1:
        return set()
    hs = [
        int(hashlib.md5(txt[i : i + k].encode()).hexdigest()[:12], 16)
        for i in range(len(txt) - k + 1)
    ]
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


def _ref_winnow_chunked(txt: str, k: int, w: int, max_chars: int) -> set[int]:
    """Mirror of winnow_fingerprints(max_doc_chars=...): normalize once,
    chunk with overlap w + k - 2, union the per-chunk fingerprints."""
    import re

    txt = re.sub(r"\s+", " ", txt.strip()).lower()
    step = max_chars - (w + k - 2)
    out: set[int] = set()
    for i in range(0, max(len(txt), 1), step):
        out |= _ref_winnow_raw(txt[i : i + max_chars], k, w)
    return out


@settings(max_examples=150, deadline=None)
@given(
    st.lists(_WORDS, min_size=1, max_size=40),
    st.integers(min_value=0, max_value=60),
)
def test_winnow_chunking_invariance_property(words, extra):
    """The long-doc chunking guard must not change the fingerprint set:
    overlap w + k - 2 is exactly the least overlap under which every
    window of the original lies wholly inside some chunk."""
    k, w = 8, 4
    txt = " ".join(words)
    max_chars = (k + w - 1) + extra  # smallest legal chunk upward
    assert _ref_winnow_chunked(txt, k, w, max_chars) == _ref_winnow(txt, k, w)
    # one-below-minimum overlap DOES lose spans for some inputs — the
    # bound is tight (checked on a specific witness, not per-example)


def test_winnow_chunk_overlap_bound_is_tight():
    """With overlap w + k - 3 (one char short) a window straddling the
    chunk boundary is lost — the w + k - 2 bound is exactly minimal."""
    import hashlib
    import re

    import random

    k, w = 8, 4
    max_chars = 20
    short_step = max_chars - (w + k - 3)  # overlap one too small
    for seed in range(100):
        rng = random.Random(seed)
        txt = "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(80)
        )
        txt = re.sub(r"\s+", " ", txt.strip()).lower()
        out: set[int] = set()
        for i in range(0, len(txt), short_step):
            out |= _ref_winnow_raw(txt[i : i + max_chars], k, w)
        ref = _ref_winnow(txt, k, w)
        if out != ref:
            # a straddling window's fingerprint was lost, never invented
            assert out < ref
            return
    raise AssertionError("no witness in 100 seeds — bound may not be tight")
