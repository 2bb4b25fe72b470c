"""Hypothesis property tests for the deterministic kernels."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crawling_vectordb_llm_spark.embedding import hash_encode_batch
from crawling_vectordb_llm_spark.plans.generate import fake_generate_batch

texts = st.lists(
    st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=80),
    min_size=1,
    max_size=8,
)


@given(texts)
@settings(max_examples=50, deadline=None)
def test_hash_embedding_deterministic_and_bounded(ts):
    a = hash_encode_batch(ts, 32)
    b = hash_encode_batch(ts, 32)
    assert (a == b).all()
    norms = np.linalg.norm(a, axis=1)
    # every norm is 0 (no tokens) or 1 (normalized)
    assert np.all((np.abs(norms - 1.0) < 1e-9) | (norms == 0.0))


@given(texts, st.integers(min_value=8, max_value=128))
@settings(max_examples=30, deadline=None)
def test_hash_embedding_dim_respected(ts, dim):
    assert hash_encode_batch(ts, dim).shape == (len(ts), dim)


@given(st.text(max_size=200))
@settings(max_examples=50, deadline=None)
def test_fake_generation_total(prompt):
    out = fake_generate_batch([prompt], 8000)
    assert len(out) == 1 and out[0].startswith("summary(")


@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          min_value=-1e6, max_value=1e6), min_size=2, max_size=64))
@settings(max_examples=50, deadline=None)
def test_cosine_kernel_bounds(vals):
    """The numpy scoring kernel (same math as knn_join_numpy) stays in
    [-1, 1] and is exactly 1 against itself for nonzero vectors."""
    v = np.array(vals, dtype=np.float64)
    if np.linalg.norm(v) == 0:
        return
    vn = v / np.linalg.norm(v)
    assert abs(float(vn @ vn) - 1.0) < 1e-9
    w = np.roll(v, 1)
    if np.linalg.norm(w) > 0:
        wn = w / np.linalg.norm(w)
        assert -1.0 - 1e-9 <= float(vn @ wn) <= 1.0 + 1e-9

def test_sign_pack_words_and_hamming_properties(spark):
    """sign_pack_words: dim/32 bigint words, every word within 32-bit
    range; hamming_distance: zero iff same sign pattern, symmetric, and
    equals the popcount of flipped dims on a planted pair."""
    from pyspark.sql import functions as F

    from crawling_vectordb_llm_spark.functions import vector as V

    a = [1.0] * 64
    b = [1.0] * 64
    for i in (0, 5, 33, 63):
        b[i] = -1.0
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        V.sign_pack_words("a", 64).alias("wa"),
        V.sign_pack_words("b", 64).alias("wb"),
    ).first()
    assert len(row["wa"]) == 2
    assert all(0 <= w < 2**32 for w in row["wa"])
    d = df.select(
        V.hamming_distance(
            V.sign_pack_words("a", 64), V.sign_pack_words("b", 64)
        ).alias("ab"),
        V.hamming_distance(
            V.sign_pack_words("b", 64), V.sign_pack_words("a", 64)
        ).alias("ba"),
        V.hamming_distance(
            V.sign_pack_words("a", 64), V.sign_pack_words("a", 64)
        ).alias("aa"),
    ).first()
    assert d["ab"] == d["ba"] == 4 and d["aa"] == 0

    import pytest

    with pytest.raises(ValueError, match="multiple of 32"):
        V.sign_pack_words("a", 48)


@st.composite
def _tied_scores(draw):
    """A score matrix with planted exact ties (values drawn from a small
    pool, some differing only past the 6th decimal), ids in shuffled
    order, and a k from 1 to past the column count."""
    rows = draw(st.integers(min_value=0, max_value=6))
    cols = draw(st.integers(min_value=0, max_value=12))
    pool = draw(st.lists(st.floats(-1, 1), min_size=1, max_size=4))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    scores = rng.choice(pool, size=(rows, cols)) + rng.choice([0.0, 1e-9], size=(rows, cols))
    return scores, rng.permutation(100)[:cols] if cols else np.zeros(0, int), draw(
        st.integers(min_value=1, max_value=cols + 2)
    )


@given(_tied_scores())
@settings(max_examples=200, deadline=None)
def test_rank_cap_matrix_equals_full_lexsort(case):
    """rank_cap_matrix keeps exactly each row's first k columns under a
    full lexsort by (6-dp score desc, id asc), in that order — with
    planted exact ties, k at or past the column count, k = 1 and empty
    input."""
    from crawling_vectordb_llm_spark.operators.topk import rank_cap_matrix

    scores, ids, k = case
    rs = np.round(scores, 6)
    want = []
    for r in range(rs.shape[0]):
        order = np.lexsort((ids, -rs[r]))[:k]
        want += [(r, int(c), float(rs[r, c])) for c in order]
    ri, ci, sc = rank_cap_matrix(scores, ids, k)
    assert list(zip(ri.tolist(), ci.tolist(), sc.tolist())) == want
