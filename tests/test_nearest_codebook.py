"""The embedding family's one nearest-codebook kernel (``_nearest``) against
a plain-Python argmax-cosine, and its empty / missing-codebook contract."""

from __future__ import annotations

import math

import pytest

from european_emissions_data_warehouse_spark.operators.similarity import (
    _nearest,
    ivf_assign,
)


def _cos(a, b):
    # the engine's convention: each norm floored at 1e-150 (functions/vectors.py)
    na = max(math.sqrt(sum(x * x for x in a)), 1e-150)
    nb = max(math.sqrt(sum(x * x for x in b)), 1e-150)
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


def _reference(v, entries):
    """Highest cosine wins; equal cosines go to the lowest centroid id."""
    return max(entries, key=lambda e: (_cos(v, e[1]), -e[0]))[0]


CODEBOOK = [
    # (group, centroid_id, centroid) — ids 3 and 5 of group 4 are
    # duplicates (a tie), and group ids {1, 4} are not dense
    (1, 0, [1.0, 0.0, 0.0]),
    (1, 1, [0.0, 1.0, 0.0]),
    (1, 2, [0.5, 0.5, 0.1]),
    (4, 5, [0.0, 0.3, 1.0]),
    (4, 3, [0.0, 0.3, 1.0]),
    (4, 7, [-1.0, 0.2, 0.0]),
]
VECTORS = [
    (0, 1, [0.9, 0.1, 0.0]),
    (1, 1, [0.1, 0.8, 0.2]),
    (2, 1, [0.4, 0.6, 0.0]),
    (3, 1, [0.0, 0.0, 0.0]),  # zero vector: every sim is 0, lowest id wins
    (4, 4, [0.0, 0.6, 2.0]),  # nearest is the duplicated pair: id 3 wins
    (5, 4, [-2.0, 0.1, 0.1]),
    (6, 4, [0.0, 0.0, 0.0]),
    (7, 4, [1.0, 1.0, 1.0]),
]


def _frames(spark):
    vecs = spark.createDataFrame(VECTORS, "id long, g int, v array<double>")
    cb = spark.createDataFrame(
        CODEBOOK, "g int, centroid_id int, centroid array<double>"
    )
    return vecs, cb


def test_nearest_grouped_matches_reference_argmax(spark):
    vecs, cb = _frames(spark)
    got = {r["id"]: r["centroid_id"] for r in _nearest(vecs, cb, "g").collect()}
    want = {
        i: _reference(v, [(c, cv) for g2, c, cv in CODEBOOK if g2 == g])
        for i, g, v in VECTORS
    }
    assert got == want
    assert got[3] == 0 and got[4] == 3 and got[6] == 3


def test_nearest_flat_matches_reference_argmax(spark):
    vecs, cb = _frames(spark)
    out = _nearest(vecs.drop("g"), cb.drop("g"))
    assert out.columns == ["id", "v", "centroid_id"]
    got = {r["id"]: r["centroid_id"] for r in out.collect()}
    want = {i: _reference(v, [(c, cv) for _, c, cv in CODEBOOK]) for i, _, v in VECTORS}
    assert got == want
    assert got[3] == 0  # zero vector: all-zero sims, lowest id overall


def test_ivf_assign_empty_codebook_raises(spark):
    vecs, cb = _frames(spark)
    empty = cb.drop("g").limit(0)
    with pytest.raises(ValueError, match="empty codebook"):
        ivf_assign(vecs, empty, "id", "v")


@pytest.mark.parametrize("group", [2, 9])
def test_nearest_group_without_codebook_rows_raises(spark, group):
    """A row whose group has no codebook entries — a gap inside the key
    range or a key above it — fails loudly instead of matching nothing."""
    vecs, cb = _frames(spark)
    stray = spark.createDataFrame(
        [(99, group, [1.0, 0.0, 0.0])], "id long, g int, v array<double>"
    )
    with pytest.raises(Exception, match=f"no codebook entries for g={group}"):
        _nearest(vecs.unionByName(stray), cb, "g").collect()
