"""Unit tests for the vectorized kernels (SURVEY.md §5.1), and the
parity of Spark's built-in ``levenshtein`` with the scalar reference."""

import hashlib

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.functions.embed import encode_hashed_batch
from chameleon_entity_linking_spark.functions.minhash import (
    band_hashes,
    minhash_fast_from_texts,
    minhash_md5,
)
from chameleon_entity_linking_spark.functions.strsim import (
    jaro,
    jaro_winkler,
    jaro_winkler_batch,
    levenshtein,
)


def _cases():
    """Adversarial edges plus seeded random mixed-length pairs over an
    alphabet with accented and CJK characters."""
    rng = np.random.RandomState(3)
    letters = np.array(list("abcdef é中 .-"))
    cases = [
        ("", ""), ("", "abc"), ("abc", ""), ("a", "a"),
        ("martha", "marhta"), ("dixon", "dicksonx"),
        ("ab", "ba"), ("aaaa", "aaaa"), ("éclair", "eclair"),
    ]
    for _ in range(400):
        a = "".join(rng.choice(letters, rng.randint(0, 60)))
        b = "".join(rng.choice(letters, rng.randint(0, 60)))
        cases.append((a, b))
    return cases


class TestLevenshtein:
    @pytest.mark.parametrize(
        "a,b,d",
        [
            ("", "", 0),
            ("a", "", 1),
            ("", "abc", 3),
            ("abc", "abc", 0),
            ("kitten", "sitting", 3),
            ("flaw", "lawn", 2),
            ("ab", "ba", 2),
            ("über", "uber", 1),
        ],
    )
    def test_known_values(self, a, b, d):
        assert levenshtein(a, b) == d

    def test_duckdb_parity_random(self):
        rng = np.random.RandomState(1)
        letters = np.array(list("abcdef "))
        con = duckdb.connect()
        for _ in range(150):
            a = "".join(rng.choice(letters, rng.randint(0, 18)))
            b = "".join(rng.choice(letters, rng.randint(0, 18)))
            assert levenshtein(a, b) == con.execute(
                "select levenshtein(?, ?)", [a, b]
            ).fetchone()[0]

    def test_spark_levenshtein_equals_scalar(self, spark):
        """Spark's built-in ``levenshtein`` (what scoring and the
        pair_string_scores query run) equals the scalar reference, and
        ``1 - d / greatest(length, length, 1)`` equals the reference
        ratio bit for bit: code points, not UTF-16 units or bytes, on
        empty, accented, CJK and astral-plane strings. One job."""
        rng = np.random.RandomState(11)
        alphabet = np.array(list("ab é中ñ") + ["\U0001F600", "\U00010348"])
        cases = _cases() + [
            ("", "\U0001F600"), ("\U0001F600\U00010348", "\U00010348"),
            ("naïve", "naive"), ("東京都", "京都"),
        ]
        for _ in range(600):
            a = "".join(rng.choice(alphabet, rng.randint(0, 41)))
            b = "".join(rng.choice(alphabet, rng.randint(0, 41)))
            cases.append((a, b))
        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(cases)],
            "i int, a string, b string",
        )
        d = F.levenshtein("a", "b")
        ratio = 1 - d / F.greatest(F.length("a"), F.length("b"), F.lit(1))
        rows = df.select("i", d.alias("d"), ratio.alias("ratio")).collect()
        got = {r.i: (r.d, r.ratio) for r in rows}
        assert len(got) == len(cases)
        for i, (a, b) in enumerate(cases):
            want = levenshtein(a, b)
            assert got[i] == (want, 1 - want / max(len(a), len(b), 1)), (a, b)


class TestJaroWinkler:
    @pytest.mark.parametrize(
        "a,b,expected",
        [
            ("martha", "marhta", 0.9611111111111111),
            ("dixon", "dicksonx", 0.8133333333333332),
            ("dwayne", "duane", 0.8400000000000001),
            ("a", "a", 1.0),
            ("", "", 0.0),  # DuckDB/rapidfuzz convention
            ("ab", "ba", 0.0),
        ],
    )
    def test_known_values(self, a, b, expected):
        assert jaro_winkler(a, b) == pytest.approx(expected, abs=1e-12)

    def test_duckdb_parity_random(self):
        rng = np.random.RandomState(2)
        letters = np.array(list("abcde"))
        con = duckdb.connect()
        for _ in range(200):
            a = "".join(rng.choice(letters, rng.randint(0, 15)))
            b = "".join(rng.choice(letters, rng.randint(0, 15)))
            dj, djw = con.execute(
                "select jaro_similarity(?,?), jaro_winkler_similarity(?,?)",
                [a, b, a, b],
            ).fetchone()
            assert jaro(a, b) == pytest.approx(dj, abs=1e-12), (a, b)
            assert jaro_winkler(a, b) == pytest.approx(djw, abs=1e-12), (a, b)

    def test_batch(self):
        out = jaro_winkler_batch(["martha"], ["marhta"])
        assert out[0] == pytest.approx(0.9611111111111111)


class TestBatchKernelsMatchScalar:
    """The 2-D vectorized batch kernel must be BIT-identical to the
    scalar reference (which is itself DuckDB-parity-tested): random
    mixed-length pairs + adversarial edges in one batch."""

    def test_jaro_winkler_batch_equals_scalar(self):
        cases = _cases()
        out = jaro_winkler_batch([a for a, _ in cases], [b for _, b in cases])
        for i, (a, b) in enumerate(cases):
            assert out[i] == jaro_winkler(a, b), (a, b)


class TestMinhash:
    def test_md5_family_deterministic(self):
        s = ["abc", "bcd", "cde"]
        assert minhash_md5(s) == minhash_md5(list(reversed(s)))
        assert minhash_md5([]) == ["f" * 16] * 16

    def test_fast_batch_similarity_monotone(self):
        # near-dup texts agree on more signature rows than unrelated ones
        sigs = minhash_fast_from_texts(
            [
                "the quick brown fox",
                "the quick brown fix",  # near-dup
                "entirely different words",
            ],
            n_hashes=128,
        )
        sim_ab = (sigs[0] == sigs[1]).mean()
        sim_ac = (sigs[0] == sigs[2]).mean()
        assert sim_ab > 0.5 > sim_ac

    def test_fast_batch_deterministic(self):
        texts = ["hello world", "", "hi"]
        s1 = minhash_fast_from_texts(texts)
        s2 = minhash_fast_from_texts(texts)
        assert s1.dtype == np.uint64 and s1.shape == (3, 64)
        np.testing.assert_array_equal(s1, s2)
        np.testing.assert_array_equal(
            band_hashes(s1, 16, 4), band_hashes(s2, 16, 4)
        )

    def test_band_keys(self):
        sig = np.arange(64, dtype=np.uint64)[None, :]
        keys = band_hashes(sig, n_bands=16, rows_per_band=4)
        assert keys.shape == (1, 16) and keys.dtype == np.int64
        assert len(set(keys[0].tolist())) == 16
        # identical bands in every lane: only the lane index separates
        flat = band_hashes(np.zeros((1, 64), dtype=np.uint64), 16, 4)
        assert len(set(flat[0].tolist())) == 16


def _md5_64(token):
    """64-bit token hash: the first 8 bytes of md5, big-endian."""
    return int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "big")


def _encode(token_lists):
    """Encode token lists the way the pipeline does: per-token 64-bit
    hashes (here an md5 prefix, as int64) plus the joined text."""
    hashes = [
        np.array([_md5_64(t) for t in toks], dtype=np.uint64).view(np.int64)
        for toks in token_lists
    ]
    return encode_hashed_batch(hashes, [" ".join(toks) for toks in token_lists])


class TestEmbed:
    def test_shapes_and_norm(self):
        m = _encode([["hello", "world"], [], ["x"]])
        assert m.shape == (3, 64)
        norms = np.linalg.norm(m, axis=1)
        assert norms[0] == pytest.approx(1.0, abs=1e-6)
        assert norms[1] == 0.0

    def test_cosine_separates(self):
        m = _encode(
            [
                ["acme", "corporation", "builds", "rockets"],
                ["acme", "corporatoin", "builds", "rockets"],
                ["zebra", "penguin", "iceberg"],
            ]
        )
        # rows are unit-norm, so the dot is the cosine
        near = float(m[0] @ m[1])
        far = float(m[0] @ m[2])
        assert near > 0.6 > far
