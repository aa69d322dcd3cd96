"""The fold-form vector builder must equal the unrolled left-associated
chain ``(a1*b1) + (a2*b2) + …`` bit for bit.

The digests below were frozen from the unrolled builders the fold
replaced (``dot_fixed``/``norm_fixed``/``dot_const``, with and without
the per-element DOUBLE cast) over these same rows. They cover float and
double arrays with negative, subnormal and signed-zero entries, rows
whose every product is −0.0 (the chain's sum keeps the sign), and 64-dim
rows with mixed magnitudes."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.functions import vector as V

ROWS4 = [
    (1, [-1.5, 1e-40, -3.0e38, 2.25], [0.5, -1e-40, 1.0e-3, -7.0]),
    (2, [-0.0, 5e-324, 1.0, -2.5e-310], [3.0, 5e-324, -0.0, 1e-300]),
    (3, [1e-45, -1e-45, 0.1, -0.3], [-1.0e38, 2.0, -1e-41, 0.7]),
    (4, [-0.0, 0.0, -0.0, 0.0], [1.0, -2.0, 3.0, -0.5]),
    (5, [-0.0, -0.0, -0.0, -0.0], [0.0, -0.0, 0.0, -0.0]),
    (6, [2.0, -0.0, 1e-310, 0.0], [0.0, -0.0, -0.0, -0.0]),
]
CONSTS4 = [-0.25, 5e-324, 1e-300, -3.5]


def _rows64():
    rng = np.random.RandomState(7)
    out = []
    for i in range(12):
        a = rng.standard_normal(64) * 10.0 ** rng.randint(-3, 3, 64)
        b = rng.standard_normal(64)
        a[rng.randint(0, 64, 4)] = -0.0
        b[rng.randint(0, 64, 4)] = 1e-310 * rng.choice([-1, 1])
        a[rng.randint(0, 64, 2)] = 3e-42
        out.append((i, [float(x) for x in a], [float(x) for x in b]))
    out.append((12, [-0.0] * 64, [float(x) for x in rng.standard_normal(64)]))
    return out


CONSTS64 = [float(x) for x in np.random.RandomState(11).standard_normal(64)]

# (dim, element type) -> digests of dot(a, b), norm(a), dot(b, consts)
FROZEN = {
    (4, "float"): (
        "e9d14ff6d62eac84c02becf43165dbbbb017a377b8daaef4dacaf1c50690bc51",
        "55e1f87cebb5c3cd2417b899f615aa9650b77bce3f38eebb67afa5d733403f51",
        "0fead75120b2f7894fa19673bd9507c9d7f8bbe7d67999b41079fd1d8bc374b7",
    ),
    (4, "double"): (
        "edbbcee42938c2785f93ac879be42c4c8c3539fdbdb415d426c4a95b9d288ca5",
        "7ff75c3fe41dce259c072b9eeb16ae032feaf851b18af4861040d6b16dd6e130",
        "7c149810b53f74151a5c31666a195d5413a8c7c8c16c92359e286dda9e202849",
    ),
    (64, "float"): (
        "cfd47f88b810cfc5349a3c965504edae418bb94644c49ad7745933bd0c1644eb",
        "bb7d7ff411851b2d3da61919f8a6e1400910d9ea31d34e41f9849b28dcea7d9b",
        "8e44675ce8a475958aa05fd7763ef7a7764608cc9b89f87d96c55b46c5050b67",
    ),
    (64, "double"): (
        "a88a974804127598614500d0499f9d85c5dae5b11e28569e603d20380494779e",
        "8b09e5910c3d1640c2a35bf0ca790c6b28ff220ee044bdac2f99f0441b05fdd1",
        "234723404785a35c33e373c13ba63a9a52b64d60e76cf2e6ec1c9b44ca6b80cc",
    ),
}


def _digest(df, col):
    h = hashlib.sha256()
    for r in df.select("id", col.alias("x")).orderBy("id").collect():
        h.update(b"N" if r["x"] is None else struct.pack(">d", r["x"]))
    return h.hexdigest()


@pytest.mark.parametrize("dim,etype", sorted(FROZEN))
def test_fold_matches_frozen_unrolled_digests(spark, dim, etype):
    rows, consts = (ROWS4, CONSTS4) if dim == 4 else (_rows64(), CONSTS64)
    df = spark.createDataFrame(rows, f"id int, a array<{etype}>, b array<{etype}>")
    got = (
        _digest(df, V.dot("a", "b")),
        _digest(df, V.norm("a")),
        _digest(df, V.dot("b", V.array_lit(consts))),
    )
    assert got == FROZEN[(dim, etype)]


def test_all_negative_zero_products_keep_their_sign(spark):
    got = spark.range(1).select(
        V.dot("array(-0.0D, 0.0D)", "array(1.0D, -1.0D)").alias("x")
    ).first()["x"]
    assert struct.pack(">d", got) == struct.pack(">d", -0.0)
