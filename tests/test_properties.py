"""Property-based tests (hypothesis) for the similarity kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from chameleon_entity_linking_spark.functions.minhash import (
    band_hashes,
    minhash_fast_from_texts,
)
from chameleon_entity_linking_spark.functions.strsim import (
    jaro,
    jaro_winkler,
    jaro_winkler_batch,
    levenshtein,
)

TEXT = st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=30)


@settings(max_examples=200, deadline=None)
@given(TEXT, TEXT)
def test_levenshtein_symmetry_and_bounds(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert (d == 0) == (a == b)


@settings(max_examples=100, deadline=None)
@given(TEXT, TEXT, TEXT)
def test_levenshtein_triangle_inequality(a, b, c):
    assert levenshtein(a, c) <= levenshtein(a, b) + levenshtein(b, c)


@settings(max_examples=200, deadline=None)
@given(TEXT, TEXT)
def test_jaro_winkler_bounds_and_symmetry(a, b):
    j = jaro(a, b)
    jw = jaro_winkler(a, b)
    assert 0.0 <= j <= 1.0 and 0.0 <= jw <= 1.0
    assert jw >= j - 1e-12  # winkler boost never decreases
    assert jaro(b, a) == j
    if a and b and a == b:
        assert jw == 1.0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=40))
def test_batch_kernels_bit_identical_to_scalar(pairs):
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    jv = jaro_winkler_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        assert jv[i] == jaro_winkler(x, y), (x, y)


@settings(max_examples=50, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_minhash_permutation_invariant(texts):
    # a text's signature row does not depend on its batch neighbours:
    # permuting the batch permutes the rows, and each row equals the
    # text's signature computed alone
    batch = minhash_fast_from_texts(texts)
    np.testing.assert_array_equal(batch[::-1], minhash_fast_from_texts(texts[::-1]))
    for i, t in enumerate(texts):
        np.testing.assert_array_equal(batch[i], minhash_fast_from_texts([t])[0])


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=64, max_size=64))
def test_band_keys_stable_and_distinct_prefixes(sig):
    sigs = np.array([sig], dtype=np.uint64)
    keys = band_hashes(sigs, 16, 4)
    np.testing.assert_array_equal(keys, band_hashes(sigs.copy(), 16, 4))
    # distinct lanes give distinct keys, and each lane reads only its
    # own band: changing band 0 leaves lanes 1..15 as they were
    assert len(set(keys[0].tolist())) == 16
    bumped = sigs.copy()
    bumped[0, 0] ^= np.uint64(1)
    moved = band_hashes(bumped, 16, 4)
    assert moved[0, 0] != keys[0, 0]
    np.testing.assert_array_equal(moved[0, 1:], keys[0, 1:])
