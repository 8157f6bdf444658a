"""The Arrow ANN kernels are bit-identical twins of the Column forms.

r19 moved the IVF cell argmax and PQ code argmin from interpreted
Column expression folds to numpy kernels behind mapInArrow
(similarity._append_ann_cols). The Column forms live HERE, as the
oracles (:func:`ivf_cell_col`, :func:`pq_codes_col`); no production
path uses them. These tests pin the equivalence on a dirty corpus
covering every degenerate shape the Column forms define behavior for:
NULL vectors, NULL elements, NaN / +-inf components, short / long /
empty vectors, exact ties, and all-degenerate rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from fstd2pandas_spark.operators.llm.similarity import (
    _centroid_col, _dot, _md5_seed)

DIM, N_CELLS, M, KSUB = 8, 4, 4, 4
D_SUB = DIM // M


def ivf_cell_col(vec: Column, n_cells: int, dim: int,
                 weights=None) -> Column:
    """IVF cell assignment: argmax over cells of <vec, centroid_c>
    (ties break toward the lower cell id).

    Linear argmax: each dot product appears ONCE in a scores array and
    the winner is ``array_position(scores, array_max(scores))`` —
    first-occurrence-of-max = lowest winning cell; Spark orders NaN
    greatest and equates NaN=NaN, so a NaN score wins and position
    finds the first NaN; an all-NULL score row (NULL/short vector — dot
    nullability depends only on ``vec``, centroids are literals) falls
    to cell 0 through the ``coalesce``."""
    scores = F.array(*[_dot(vec, _centroid_col(c, dim, weights))
                       for c in range(n_cells)])
    return F.coalesce(
        (F.array_position(scores, F.array_max(scores)) - 1).cast("int"),
        F.lit(0))


def _pq_centroid(sub: int, c: int, d_sub: int, codebook=None) -> Column:
    """PQ sub-centroid as a Column array: a trained literal when a
    codebook is given, else the md5 seed ``pq{sub}_{c}_{j}``."""
    if codebook is not None:
        return F.lit([float(w) for w in codebook[sub][c]])
    return F.lit(_md5_seed(f"pq{sub}_{c}_", d_sub))


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def pq_codes_col(vec: Column, m: int, ksub: int, dim: int,
                 codebook=None) -> Column:
    """Product-quantization code array (Jegou et al. 2011): split the
    vector into `m` subvectors of dim/m, each coded as the index of its
    nearest (L2) sub-centroid — ties break toward the lower code (ONE
    struct sort per subvector)."""
    if dim % m:
        raise ValueError(f"dim ({dim}) must be a multiple of m ({m})")
    d_sub = dim // m
    codes = []
    for sub in range(m):
        sv = F.transform(
            F.slice(vec, sub * d_sub + 1, d_sub),
            lambda x: x.cast("double"))
        entries = F.array(*[
            F.struct(_l2(sv, _pq_centroid(sub, c, d_sub, codebook))
                     .alias("d"),
                     F.lit(c).alias("c"))
            for c in range(ksub)
        ])
        codes.append(F.array_sort(entries)[0]["c"])
    return F.array(*codes)


@pytest.fixture(scope="module")
def dirty(spark):  # noqa: F811
    import numpy as np
    rng = np.random.RandomState(11)
    rows = [(i, [float(np.float32(x)) for x in rng.randn(DIM)])
            for i in range(60)]
    rows += [
        (100, None),                                  # NULL vector
        (101, [1.0] * DIM),                           # constant
        (102, [0.0] * DIM),                           # zero vector
        (103, [float("nan")] * DIM),                  # all-NaN
        (104, [1.0] * (DIM // 2)),                    # short (some subs ok)
        (105, [1.0] * (DIM + 3)),                     # long
        (106, [1.0, float("nan")] + [1.0] * (DIM - 2)),  # one NaN
        (107, [1.0, None] + [1.0] * (DIM - 2)),       # NULL element
        (108, [float("inf")] * DIM),                  # inf
        (109, [1.0] * (DIM - 1) + [float("-inf")]),   # -inf tail
        (110, []),                                    # empty
        (111, rows[0][1]),                            # exact duplicate (ties)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>").repartition(5)


def test_arrow_cells_and_codes_match_column_forms(spark, dirty):  # noqa: F811
    from fstd2pandas_spark.operators.llm.similarity import _append_ann_cols

    ref = dirty.select(
        "vec_id",
        ivf_cell_col(F.col("embedding"), N_CELLS, DIM).alias("cell"),
        pq_codes_col(F.col("embedding"), M, KSUB, DIM).alias("codes"),
    ).collect()
    got = _append_ann_cols(
        dirty, "embedding",
        cell=("cell", N_CELLS, DIM, None),
        codes=("codes", M, KSUB, DIM, None),
    ).select("vec_id", "cell", "codes").collect()
    ref_m = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in ref}
    got_m = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in got}
    assert ref_m == got_m


def test_arrow_cells_match_with_trained_weights(spark, dirty):  # noqa: F811
    """Same equivalence through a refined (non-seed) centroid table,
    including cells left at their md5 seed by an empty cluster."""
    from fstd2pandas_spark.operators.llm.similarity import (
        _append_ann_cols, lloyd_refine)

    w = lloyd_refine(dirty, N_CELLS, DIM, iters=1)
    ref = dirty.select(
        "vec_id",
        ivf_cell_col(F.col("embedding"), N_CELLS, DIM, w).alias("cell"),
    ).collect()
    got = _append_ann_cols(dirty, "embedding",
                           cell=("cell", N_CELLS, DIM, w)) \
        .select("vec_id", "cell").collect()
    assert ({r["vec_id"]: r["cell"] for r in ref}
            == {r["vec_id"]: r["cell"] for r in got})


def test_arrow_codes_match_with_trained_codebook(spark, dirty):  # noqa: F811
    from fstd2pandas_spark.operators.llm.similarity import (
        _append_ann_cols, pq_train)

    cb = pq_train(dirty, m=M, ksub=KSUB, dim=DIM, iters=1)
    ref = dirty.select(
        "vec_id",
        pq_codes_col(F.col("embedding"), M, KSUB, DIM, cb).alias("codes"),
    ).collect()
    got = _append_ann_cols(dirty, "embedding",
                           codes=("codes", M, KSUB, DIM, cb)) \
        .select("vec_id", "codes").collect()
    assert ({r["vec_id"]: list(r["codes"]) for r in ref}
            == {r["vec_id"]: list(r["codes"]) for r in got})


def test_appended_schema_matches_column_forms(spark, dirty):  # noqa: F811
    """The Arrow columns carry the exact types/nullability of the
    Column forms (int NOT NULL cell; array<int> NOT NULL codes)."""
    from pyspark.sql import types as T

    from fstd2pandas_spark.operators.llm.similarity import _append_ann_cols

    out = _append_ann_cols(dirty, "embedding",
                           cell=("cell", N_CELLS, DIM, None),
                           codes=("codes", M, KSUB, DIM, None))
    sch = {f.name: f for f in out.schema.fields}
    assert sch["cell"] == T.StructField("cell", T.IntegerType(), False)
    assert sch["codes"] == T.StructField(
        "codes", T.ArrayType(T.IntegerType(), True), False)


def test_shared_lloyd_weights_equal_per_arm_training(spark, dirty):  # noqa: F811
    """The r19 gate trains Lloyd once and hands the weights to both
    IVF consumers; this pins that a pre-filtered (searchable) corpus
    trains the same centroids as the raw one (trainable is a subset of
    searchable), so sharing cannot change any arm's values."""
    from fstd2pandas_spark.operators.llm.similarity import (
        _searchable, lloyd_refine)

    raw = lloyd_refine(dirty, N_CELLS, DIM, iters=1)
    filtered = lloyd_refine(dirty.filter(_searchable("embedding")),
                            N_CELLS, DIM, iters=1)
    assert raw == filtered
