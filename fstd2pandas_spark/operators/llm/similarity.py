"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force cosine top-k: query set x corpus with
  a ranking window. O(|Q| * N) but embarrassingly parallel; the
  correctness baseline.
- :func:`lsh_ann_topk` — random-hyperplane LSH with md5-derived +-1
  planes; vectors bucket by their sign pattern and top-k is searched
  within the bucket only. Sublinear candidates at the cost of recall.
- :func:`ivf_ann_topk` / :func:`lloyd_refine` — IVF inverted lists
  with deterministic (quantized-integer Lloyd) k-means centroids and
  nprobe bucket probes.
- :func:`pq_train` / :func:`pq_encode` / :func:`pq_adc_topk` — product
  quantization (Jegou et al. 2011): m·log2(ksub)-bit codes per vector,
  asymmetric-distance search against code reconstructions.
- :func:`ivf_pq_topk` — the composed billion-scale shape (FAISS
  IndexIVFPQ): IVF bounds candidates, PQ bounds candidate memory.
- :func:`embedding_neardup` — cosine near-duplicate pairs within an LSH
  bucket (LSH-bucketed only; the exact all-pairs form is a numpy oracle
  in the tests); :func:`semantic_dedup` — SemDeDup within IVF cells;
  :func:`random_projection` — J-L dimensionality reduction.

Every index structure is deterministic (md5 seeds, data-ranked seeding,
order-free quantized sums), so an SQL oracle rebuilds it exactly. Dot
products run through higher-order array functions (JVM, sequential
fold => bit-identical to the oracle's list_cosine_similarity).

One cosine: :func:`cosine_col` is the only Column definition (every
pair plane passes it hoisted per-row norms); :func:`cosine_topk`'s
one-statement SQL build is the only other spelling. The ranked
searches share one top-k tail (``_ranked_topk``). The Column forms of
the IVF cell and PQ code assignments live in tests/test_ann_kernels.py
as the oracles of the Arrow kernels that replaced them.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from fstd2pandas_spark.operators.llm.text import sql_ident
from fstd2pandas_spark.plans.partitioning import ensure_min_partitions


def _md5_seed(prefix: str, n: int) -> "list[float]":
    """The md5 seed recipe — w[j] in [-1, 1) from the first 4 hex digits
    of ``md5(f"{prefix}{j}")`` — computed DRIVER-SIDE in Python (r18,
    guide §1.2/§5): the Column formulation
    (``conv(substr(md5(concat(prefix, j)), 1, 4), 16, 10) / 32768 - 1``
    inside a ``transform``) is a lambda expression, which Catalyst never
    constant-folds, so every ROW of every consumer re-hashed
    n_cells x dim md5 values in the interpreter (measured: 53.6 s to
    Lloyd-train 2,030 vectors at sf0.1). Bit-identical by construction:
    hexdigest is the same lowercase hex, int(.., 16) == conv(.., 16, 10)
    for 4 hex digits, and /32768.0 - 1.0 is the same exact IEEE-double
    arithmetic. The seeds stay reproducible on any engine — the oracle
    mirrors keep computing them in SQL."""
    return [
        int(hashlib.md5(f"{prefix}{j}".encode()).hexdigest()[:4], 16)
        / 32768.0 - 1.0
        for j in range(n)
    ]


def _weights_matrix(n_cells: int, dim: int, weights=None):
    """IVF centroid table as float64[n_cells, dim] — the literal values
    :func:`_centroid_col` emits, gathered driver-side for the Arrow
    kernels (a Lloyd-refined row when available, the md5 seed
    otherwise)."""
    import numpy as np

    rows = []
    for c in range(n_cells):
        if weights is not None and weights[c] is not None:
            rows.append([float(w) for w in weights[c]])
        else:
            rows.append(_md5_seed(f"ivf{c}_", dim))
    return np.array(rows, dtype=np.float64)


def _codebook_matrix(m: int, ksub: int, d_sub: int, codebook=None):
    """PQ codebook as float64[m, ksub, d_sub], gathered driver-side for
    the Arrow kernels: the trained codebook when given
    (:func:`pq_train`), else the md5 seed (``pq{sub}_{c}_{j}``, the
    IVF centroid recipe)."""
    import numpy as np

    rows = []
    for sub in range(m):
        if codebook is not None:
            rows.append([[float(w) for w in codebook[sub][c]]
                         for c in range(ksub)])
        else:
            rows.append([_md5_seed(f"pq{sub}_{c}_", d_sub)
                         for c in range(ksub)])
    return np.array(rows, dtype=np.float64)


def _append_ann_cols(df: DataFrame, vec_col: str, *,
                     cell: "tuple | None" = None,
                     codes: "tuple | None" = None) -> DataFrame:
    """Append the IVF cell (``cell=(out_col, n_cells, dim, weights)``)
    and/or PQ code array (``codes=(out_col, m, ksub, dim, codebook)``)
    to ``df`` through ONE Arrow-vectorized ``mapInArrow`` pass (r19,
    guide §4.2): the Column forms of these assignments are n_cells x
    dim / m x ksub x d_sub interpreted distance folds PER ROW — the
    repo's largest absolute cost (measured 16.9 s vs 0.32 s for the
    kernel on the sf0.1 embeddings table, 52x). Values are
    bit-identical to those Column forms, which now live in
    tests/test_ann_kernels.py as the oracles — the kernels vectorize
    across rows but keep the folds sequential across dimensions (the
    exactness argument lives in ``_ann_kernels.py``; the tests pin it
    on a dirty corpus).

    ``mapInArrow`` ships EVERY input column through the Python worker
    — callers project ``df`` down to the columns they need first (all
    in-repo callers pass narrow (id, vec) frames). Appended types
    mirror the Column forms exactly: cell ``int NOT NULL``, codes
    ``array<int> NOT NULL`` (containsNull stays True like
    ``array_sort(...)[0]['c']``)."""
    from pyspark.sql import types as T

    vec_idx = df.columns.index(vec_col)
    fields = list(df.schema.fields)
    W = dim_c = None
    if cell is not None:
        out_c, n_cells, dim_c, weights = cell
        W = _weights_matrix(n_cells, dim_c, weights)
        fields.append(T.StructField(out_c, T.IntegerType(), False))
    CB = None
    if codes is not None:
        out_k, m, ksub, dim_k, codebook = codes
        if dim_k % m:
            raise ValueError(f"dim ({dim_k}) must be a multiple of m ({m})")
        d_sub = dim_k // m
        CB = _codebook_matrix(m, ksub, d_sub, codebook)
        fields.append(T.StructField(
            out_k, T.ArrayType(T.IntegerType(), True), False))
    schema = T.StructType(fields)

    def fn(it):
        import numpy as np
        import pyarrow as pa

        from fstd2pandas_spark.operators.llm import _ann_kernels as K

        for batch in it:
            vec = batch.column(vec_idx)
            with np.errstate(invalid="ignore", over="ignore"):
                if W is not None:
                    batch = batch.append_column(
                        pa.field(out_c, pa.int32(), nullable=False),
                        pa.array(K.ivf_cells(vec, W, dim_c), pa.int32()))
                if CB is not None:
                    mat = K.pq_codes(vec, CB, m, ksub, d_sub)
                    off = np.arange(len(mat) + 1, dtype=np.int32) * m
                    arr = pa.ListArray.from_arrays(
                        pa.array(off),
                        pa.array(mat.ravel(), pa.int32()))
                    batch = batch.append_column(
                        pa.field(out_k, pa.list_(pa.int32()),
                                 nullable=False), arr)
            yield batch

    return df.mapInArrow(fn, schema)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    ))


def cosine_col(a: Column, b: Column, na: "Column | None" = None,
               nb: "Column | None" = None) -> Column:
    """Cosine similarity between two float arrays (double precision) —
    the ONE Column cosine of the package (``cosine_topk``'s fused SQL
    statement is the only other spelling).

    ``na`` / ``nb``: the vectors' norms, when the caller has HOISTED
    them to the per-row side (r19). A pair plane that folds
    ``_norm`` inside the per-pair cosine re-folds both vectors for
    every candidate pair (pairs >> rows); the hoisted column is the
    same expression over the same vector, so the doubles are identical
    and the extra 8 bytes per row buy pairs-many norm folds. Omitted,
    the norms fold inline.

    NULL when it is UNDEFINED: a zero-norm vector has no direction
    (the raw division is 0/0 — under ANSI that ABORTS the whole query
    as DIVIDE_BY_ZERO, so one dead all-zero embedding — the classic
    broken-encoder artifact — killed corpus-wide dedup; under
    non-ANSI it is NaN, which Spark orders ABOVE every real double
    and which passes `NaN >= threshold`, so the dead vector paired
    with everything it met as a maximum-confidence "near-duplicate"
    and hijacked rank 1 of every top-k). A NaN component poisons the
    fold to NaN the same way. The checked division maps the zero divisor to
    NULL and ``nanvl`` maps a NaN result to NULL — single evaluation
    of the dot and norm folds, no guard re-evaluation — so undefined
    similarities drop out of thresholds and sort AFTER every real
    candidate, matching the module's NULL-metric contract."""
    na = _norm(a) if na is None else na
    nb = _norm(b) if nb is None else nb
    return F.nanvl(F.try_divide(_dot(a, b), na * nb),
                   F.lit(None).cast("double"))


def _ranked_topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The top-k tail every ranked search shares: ``rank`` per
    ``query_id`` by (``score`` desc, ``neighbor_id`` asc), keep ranks
    ``<= k`` with a defined score, project (query_id, neighbor_id,
    score, rank).

    A NULL score (zero-norm/NaN input) = no defined similarity = no
    result row; the filter sits ABOVE the window, where the score is a
    plain attribute (no pushdown into the fold), and NULLs sort last
    within each window so surviving ranks stay contiguous."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") <= k) & F.col(score).isNotNull())
            .select("query_id", "neighbor_id", score, "rank"))


def cosine_topk(emb: DataFrame, query_ids: list[int] | None = None,
                k: int = 5, id_col: str = "vec_id",
                vec_col: str = "embedding",
                n_queries: int = 10) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    others. Returns (query_id, neighbor_id, cos) with cos rounded to 6 dp,
    ranked by (cos desc, neighbor_id asc).

    NULL-embedding rows are excluded from BOTH sides (a vector that
    does not exist can neither be searched nor found — keeping them
    emitted k arbitrary neighbors with NULL cos per NULL query);
    zero-norm/NaN candidates score NULL (see :func:`cosine_col`) and
    rank after every real neighbor.

    r18: built as ONE spark.sql statement over the bound source — the
    former Column-DSL chain cost ~250 ms of driver-side build per call
    (eager analysis per step + py4j round trips); each CTE mirrors one
    DSL step verbatim (same BROADCAST of the query side, the
    NULL-cos/rank filter still ABOVE the window where cos is a plain
    attribute), so the optimized plan and values are unchanged (A/B
    verified; oracle gate + numpy cross-check pin it)."""
    id_col, vec_col = sql_ident(id_col), sql_ident(vec_col)
    if query_ids is None:
        qpred = f"{id_col} < {int(n_queries)}"
    else:
        ids = ", ".join(str(int(i)) for i in query_ids)
        qpred = f"{id_col} IN ({ids})"
    dot = ("aggregate(zip_with(_qv, _cv, "
           "(x, y) -> cast(x as double) * cast(y as double)), "
           "0.0D, (acc, x) -> acc + x)")

    def norm(v: str) -> str:
        return (f"sqrt(aggregate(transform({v}, "
                "x -> cast(x as double) * cast(x as double)), "
                "0.0D, (acc, x) -> acc + x))")

    # norms hoisted to the per-row CTEs (the cosine_col rationale)
    cos = (f"round(nanvl(try_divide({dot}, _qn * _cn), "
           "cast(null as double)), 6)")
    src = ensure_min_partitions(emb)
    # _r and the final filter are the _ranked_topk tail, in SQL
    return emb.sparkSession.sql(f"""
      WITH _f AS (
        SELECT * FROM {{src}}
        WHERE {vec_col} IS NOT NULL
          AND NOT exists({vec_col}, x -> x IS NULL)
      ),
      _q AS (SELECT {id_col} AS query_id, {vec_col} AS _qv,
                    {norm(vec_col)} AS _qn
             FROM _f WHERE {qpred}),
      _c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS _cv,
                    {norm(vec_col)} AS _cn
             FROM _f),
      _s AS (
        SELECT /*+ BROADCAST(_q) */ neighbor_id, _cv, query_id, _qv,
               {cos} AS cos
        FROM _c CROSS JOIN _q
        WHERE neighbor_id != query_id
      ),
      _r AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM _s
      )
      SELECT query_id, neighbor_id, cos, rank
      FROM _r WHERE rank <= {int(k)} AND cos IS NOT NULL
    """, src=src)


def embedding_neardup(emb: DataFrame, threshold: float = 0.4,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      *, n_planes: int = 4, dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cos) for
    unordered pairs with cosine >= ``threshold`` that share an LSH
    bucket.

    LSH-bucketed only — approximate: a borderline pair split across
    buckets is dropped (survival ~ ``(1-theta/pi)^n_planes``);
    ``n_planes`` < 1 raises ``ValueError`` (the exact all-pairs O(N^2)
    form lives in the tests as a numpy oracle). Candidates are
    restricted to the same random-hyperplane bucket — bucketing is a
    narrow map, the buckets are materialized ONCE behind a
    ``repartition(_bucket)`` so the self-join reuses a single exchange
    subtree (ReusedExchange), and each bucket holds ~N/2^n_planes rows.

    NULL-embedding rows never pair (no content to compare) and are
    excluded at the SOURCE column (scan-pushed predicate) — unguarded,
    every NULL vector landed in bucket 0 (each plane's sign fold is
    NULL -> the otherwise-0 arm) and streamed B^2/2 join rows whose
    NULL cosine was discarded only afterwards. Zero-norm/NaN vectors
    score NULL against everything (:func:`cosine_col`) and fall out of
    the threshold instead of passing it as NaN. A hot bucket (constant
    embeddings, n_planes mistuned for the corpus size) raises in-plan
    at MAX_GROUP_MEMBERS members BEFORE the join fans out — the dedup
    module's group-ceiling precedent; the count rides a window over
    the same hashpartitioning the join needs (one exchange total).
    """
    from fstd2pandas_spark.operators.llm.dedup import require_group_within

    if n_planes < 1:
        raise ValueError(f"n_planes must be >= 1, got {n_planes}")
    emb = ensure_min_partitions(emb).filter(_searchable(vec_col))
    bucketed = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        lsh_bucket_col(F.col(vec_col), n_planes, dim).alias("_bucket"),
    ).repartition("_bucket")
    bn = F.count(F.lit(1)).over(Window.partitionBy("_bucket"))
    bucketed = (bucketed.withColumn("_bn", bn)
                .filter(require_group_within(F.col("_bn"),
                                             "embedding LSH bucket"))
                .drop("_bn"))
    a = bucketed.select(F.col("_id").alias("vec_a"),
                        F.col("_v").alias("_va"),
                        F.col("_n").alias("_na"), "_bucket")
    b = bucketed.select(F.col("_id").alias("vec_b"),
                        F.col("_v").alias("_vb"),
                        F.col("_n").alias("_nb"), "_bucket")
    # MERGE hint: a broadcast self-join would rebuild the md5 bucket
    # subtree on the build side (double compute) and broadcasting the
    # whole corpus is wrong at scale anyway; sort-merge makes both
    # sides share the ONE repartition exchange (ReusedExchange).
    joined = a.hint("merge").join(b, "_bucket")
    cos = cosine_col(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    return (
        joined.filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def _centroid_col(cell: int, dim: int, weights=None) -> Column:
    """Centroid c as a LITERAL Column array: a Lloyd-refined weight list
    when one is available, the md5 seed (:func:`_md5_seed`,
    ``ivf{cell}_{j}``) otherwise — reproducible on any engine, no
    training pass needed (a k-means refinement slots in without
    changing the query shape).

    One ``F.lit(list)`` call per centroid (r19): the per-element
    ``F.array(*[F.lit(w) ...])`` form cost dim py4j round trips per
    centroid (~1,000 per reconstruct expression) — same Literal array,
    same type (pinned equal by str() and schema)."""
    if weights is not None and weights[cell] is not None:
        return F.lit([float(w) for w in weights[cell]])
    return F.lit(_md5_seed(f"ivf{cell}_", dim))


def _probe_cells(vec: Column, n_cells: int, dim: int, weights,
                 nprobe: int) -> Column:
    """The query side of an IVF probe: score every centroid, sort, and
    explode the ``nprobe`` best cells (ties toward the lower cell id —
    the struct sort's second key)."""
    scores = F.array(*[
        F.struct((-_dot(vec, _centroid_col(c, dim, weights))).alias("neg"),
                 F.lit(c).alias("cell"))
        for c in range(n_cells)
    ])
    return F.explode(F.slice(F.array_sort(scores), 1, nprobe)["cell"])


def _searchable(vec_col: str) -> Column:
    """Vectors the search/dedup plane can position in the space:
    non-NULL AND with no NULL component. A vector carrying a NULL
    element has no defined inner product with ANYTHING — left in, it
    NULL-scored out of the cosine paths but still flowed through the
    signature/bucket arms (an exact-dup hash over a half-unknown
    vector pairs two documents whose similarity is unverifiable — the
    NULL-verdict rule says refuse to certify). NaN components keep
    their NULL-scored path and zero norms their NULL cosine; this is
    the SOURCE rule, one definition for every entry point (round 15;
    the oracle mirrors exclude the same shapes)."""
    return (F.col(vec_col).isNotNull()
            & ~F.exists(F.col(vec_col), lambda x: x.isNull()))


def _trainable(vec_col: str, dim: int) -> Column:
    """True for vectors the centroid math can digest: non-NULL,
    exactly ``dim`` wide, every component non-NULL and finite. Shared
    by :func:`lloyd_refine` and :func:`pq_train` — one definition, so
    the two trainers can never disagree on what counts as data."""
    return (F.col(vec_col).isNotNull()
            & (F.size(vec_col) == dim)
            & F.forall(F.col(vec_col),
                       lambda x: x.isNotNull() & ~F.isnan(x)
                       & (F.abs(x) != F.lit(float("inf")))))


#: 2**20 — exact dyadic quantizer: float * _LLOYD_Q is exact, floor has
#: no rounding ties, and integer sums are summation-order-free, so the
#: refined centroids are bit-identical on any engine or partitioning
_LLOYD_Q = 1048576.0


def lloyd_refine(emb: DataFrame, n_cells: int, dim: int,
                 vec_col: str = "embedding", iters: int = 1,
                 weights=None) -> list:
    """K-means (Lloyd) centroid refinement for the IVF index: assign
    every vector to its nearest current centroid, then take per-cell
    member means. Sums run as quantized integers (see _LLOYD_Q) so the
    result is deterministic under any aggregation order — the property
    that lets an SQL oracle reproduce the index exactly. One shuffle per
    iteration (the cell groupBy); the collect is n_cells bounded rows.
    Empty cells keep their previous (md5-seeded) centroid.

    Only well-formed vectors train (non-NULL, exactly ``dim`` wide,
    every component finite): a NULL/short vector contributed NOTHING
    to the per-dimension sums (``element_at`` past the end is NULL and
    ``sum`` skips it) but still counted in ``_n``, and a NaN component
    dropped out of ITS dimension's sum the same way (``floor(NaN)``
    casts to NULL) — every such row silently DILUTED its cell's mean
    toward zero, degrading the index with no signal.

    r19: the input is spread to the cluster's parallelism first
    (ensure_min_partitions — a no-op at scale where the table arrives
    in many splits; locally the single-file scan otherwise ran every
    per-row assignment on ONE core) and the cell assignment runs
    through the Arrow kernel (guide §4.2, value-identical — see
    :func:`_append_ann_cols`). Both are order-neutral: the sums are
    order-free quantized integers and the collect goes through a
    cell-keyed dict."""
    emb = ensure_min_partitions(emb).filter(_trainable(vec_col, dim))
    for _ in range(iters):
        assigned = _append_ann_cols(
            emb.select(F.col(vec_col).alias("_v")),
            "_v", cell=("_cell", n_cells, dim, weights))
        # ONE spark.sql over the bound frame instead of 64 Column-DSL
        # sum builds (r19, the r18 expr-text recipe): each CTE-less
        # aggregate below is the verbatim SQL of the former
        # F.sum(F.floor(F.element_at(...).cast("double") * Q)
        # .cast("long")) — measured ~0.6 s/call of py4j build latency
        # removed; values identical by transcription
        sums = ", ".join(
            f"sum(cast(floor(cast(element_at(_v, {j + 1}) as double)"
            f" * {_LLOYD_Q!r}D) as bigint)) as _s{j}"
            for j in range(dim))
        agg = assigned.sparkSession.sql(
            f"select _cell, count(*) as _n, {sums} from {{a}}"
            " group by _cell", a=assigned)
        rows = {int(r["_cell"]): r for r in agg.collect()}
        nxt = []
        for c in range(n_cells):
            r = rows.get(c)
            if r is None or r["_n"] == 0:
                nxt.append(None if weights is None else weights[c])
            else:
                nxt.append([float(r[f"_s{j}"]) / (r["_n"] * _LLOYD_Q)
                            for j in range(dim)])
        weights = nxt
    return weights


def ivf_ann_topk(emb: DataFrame, k: int = 5, n_cells: int = 8,
                 nprobe: int = 2, dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 n_queries: int = 10, refine: int = 0,
                 weights: "list | None" = None) -> DataFrame:
    """IVF-style approximate top-k — the second scale path beside
    :func:`lsh_ann_topk`.

    Vectors partition into ``n_cells`` inverted lists by nearest
    deterministic centroid (a narrow map); each query probes its
    ``nprobe`` best cells (explode, still narrow) and candidates join
    per-cell — a co-partitioned equi-join over lists of ~N/n_cells
    vectors, never an all-pairs product. At 100 TB the inverted lists
    shuffle once on the cell id and every probe is a bucket lookup.

    ``refine`` > 0 runs that many Lloyd iterations over the corpus to
    replace the md5-seeded centroids with member means (deterministic —
    see :func:`lloyd_refine`) before building the inverted lists.

    NULL-embedding rows are excluded from queries and candidates (the
    :func:`cosine_topk` contract — unguarded they all crowd cell 0
    with NULL scores); zero-norm/NaN vectors score NULL and rank last.

    ``weights`` (r19): pre-refined centroids to use as-is (skips the
    training pass — callers composing several IVF consumers over the
    same corpus train ONCE via :func:`lloyd_refine`; identical values
    by determinism of the training). When None, ``refine`` > 0 trains
    here exactly as before.
    """
    emb = ensure_min_partitions(emb).filter(_searchable(vec_col))
    if weights is None and refine:
        weights = lloyd_refine(emb, n_cells, dim, vec_col, iters=refine)
    # candidate cells via the Arrow kernel (see _append_ann_cols)
    cand = _append_ann_cols(
        emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("_cv"),
                   _norm(F.col(vec_col)).alias("_cn")),
        "_cv", cell=("_cell", n_cells, dim, weights))
    q = (
        emb.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
                _norm(F.col(vec_col)).alias("_qn"),
                _probe_cells(F.col(vec_col), n_cells, dim, weights,
                             nprobe).alias("_cell"))
    )
    cos = cosine_col(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"))
    scored = (
        cand.join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cos, 6))
    )
    return _ranked_topk(scored, "cos", k)


def _plane_sign(vec: Column, plane: int, dim: int) -> Column:
    """Sign bit of <vec, w_plane> with w_plane[j] = +-1 from md5(plane_j):
    +1 when the first hex digit of ``md5(f"{plane}_{j}")`` is 0-7 (the
    hash's top bit clear), else -1. The weights are a LITERAL array
    (r18): the ``transform`` lambda formulation re-hashed dim md5
    values per row per plane in the interpreter (lambdas are never
    constant-folded) — same value, computed once driver-side."""
    w_plane = F.lit([
        1.0 if int(hashlib.md5(f"{plane}_{j}".encode())
                   .hexdigest()[0], 16) < 8 else -1.0
        for j in range(dim)
    ])
    signed = F.aggregate(
        F.zip_with(vec, w_plane, lambda x, w: x.cast("double") * w),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return F.when(signed > 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket_col(vec: Column, n_planes: int, dim: int) -> Column:
    """LSH bucket id = integer of the n sign bits."""
    b = F.lit(0)
    for p in range(n_planes):
        b = b + _plane_sign(vec, p, dim) * (1 << p)
    return b


def lsh_ann_topk(emb: DataFrame, k: int = 5, n_planes: int = 4,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 n_queries: int = 10) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    At 100 TB this is the shape that works: bucketing is a narrow map,
    the join is per-bucket (co-partitioned), and each bucket holds
    ~N / 2^n_planes vectors.

    NULL-embedding rows are excluded (they all sign-fold into bucket 0
    and can neither query nor answer — the :func:`cosine_topk`
    contract); zero-norm/NaN vectors score NULL and rank last.
    """
    emb = ensure_min_partitions(emb).filter(_searchable(vec_col))
    bucketed = emb.withColumn("_bucket", lsh_bucket_col(F.col(vec_col), n_planes, dim))
    q = bucketed.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"), "_bucket"
    )
    cand = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"), "_bucket"
    )
    cos = cosine_col(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"))
    scored = (
        cand.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cos, 6))
    )
    return _ranked_topk(scored, "cos", k)


def random_projection(emb: DataFrame, out_dim: int, dim: int,
                      vec_col: str = "embedding",
                      seed: str = "proj1") -> DataFrame:
    """Johnson-Lindenstrauss signed random projection R^dim -> R^out_dim:
    component o = <vec, s_o> / sqrt(out_dim), s_o[j] = +-1 from the md5
    parity of (seed, o, j) — deterministic on any engine, no trained
    matrix to ship. A narrow per-row map (no shuffle); the standard
    pre-reduction in front of ANN indexing when dim is large."""
    inv = 1.0 / float(out_dim) ** 0.5

    def _component(o: int) -> Column:
        signs = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.when(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}_{o}_"), j.cast("string"))),
                    1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
        return (_dot(F.col(vec_col), signs) * inv).cast("float")

    return emb.withColumn(
        vec_col, F.array(*[_component(o) for o in range(out_dim)]))


def embedding_dim_stats(emb: DataFrame,
                        vec_col: str = "embedding") -> DataFrame:
    """Per-DIMENSION corpus health stats — the embedding-table sanity
    scan every ML-data pipeline runs before indexing: a dead dimension
    (n_zero == n, or min_x == max_x) means a broken encoder head; a
    per-dimension sum drifting between snapshots means the embedding
    model changed under the pipeline. Returns ``(j, n, sum_q6, min_x,
    max_x, n_zero, n_pos)`` — one row per dimension however large the
    corpus.

    ONE posexplode into narrow (j, x) rows + ONE map-side-combinable
    aggregation keyed on the (tiny) dimension index; sums are integer
    micro-units (round(x * 1e6) summed as longs — summation-order-free
    and bit-identical on any engine/partitioning, the repo-wide
    contract), min/max/zero/positive counts are exact comparisons on
    the float32 values.

    NaN components are REPORTED, not fatal and not poisonous: they
    count in ``n_nan`` (the health signal this scan exists to raise)
    and are excluded from the numeric folds — unguarded, one NaN
    KILLED the whole scan under ANSI (``cast(NaN as long)``) and under
    non-ANSI pinned ``max_x`` to NaN (Spark orders NaN above every
    double), hiding the dimension's real range."""
    xd = F.col("x").cast("double")
    xn = F.when(~F.isnan(xd), xd)
    return (emb.select(F.posexplode(vec_col).alias("j", "x"))
            .groupBy("j")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.round(xn * 1e6, 0).cast("long"))
                 .cast("long").alias("sum_q6"),
                 F.min(xn).alias("min_x"),
                 F.max(xn).alias("max_x"),
                 F.sum((F.col("x") == 0).cast("long"))
                 .cast("long").alias("n_zero"),
                 F.sum((xn > 0).cast("long"))
                 .cast("long").alias("n_pos"),
                 F.sum(F.isnan(xd).cast("long"))
                 .cast("long").alias("n_nan")))


def int8_quantize(emb: DataFrame,
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    format vector stores actually ship (4x smaller than float32, ~1%
    recall cost): ``scale = max|x| / 127``, ``code_i = clamp(round(x_i
    / scale), -127, 127)``; an all-zero vector gets scale 0 and
    all-zero codes rather than a division blow-up. Dequantization is
    ``code * scale``. Adds ``q8_scale`` (double) and ``q8_codes``
    (array<int>) next to the original column.

    A narrow shuffle-free per-row map. Deterministic: both the scale
    division and the rounding operate on identical IEEE doubles on any
    engine, so codes are bit-stable — an SQL oracle rebuilds them.

    A vector with a NaN or Infinity component quantizes to NULL scale
    and NULL codes (unknown content — the module's NULL-metric
    contract): unguarded, ``max|x|`` went non-finite, the per-element
    ``round(x / scale)`` produced NaN, and the ``cast("int")`` KILLED
    the whole query under ANSI (CAST_INVALID_INPUT) or silently
    NULLed single codes under non-ANSI. ``max|x|`` is computed once
    behind a projection boundary — it is referenced by the finite
    guard, the zero test and the scale, and CollapseProject keeps
    multi-referenced non-cheap aliases."""
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = emb.withColumn(
        "_ma", F.array_max(F.transform(xs, lambda x: F.abs(x))))
    ma = F.col("_ma")
    finite = ~F.isnan(ma) & (ma != F.lit(float("inf")))
    scale = F.when(finite, ma / F.lit(127.0))
    codes = F.when(finite & (ma == 0),
                   F.transform(xs, lambda x: F.lit(0))) \
        .when(
            finite,
            # per-element NULL guard: least/greatest SKIP NULLs in
            # Spark, so an unguarded NULL element would clamp to 127
            # instead of staying NULL
            F.transform(xs, lambda x: F.when(
                x.isNotNull(),
                F.greatest(
                    F.lit(-127),
                    F.least(F.lit(127),
                            F.round(x / (ma / F.lit(127.0)), 0)
                            .cast("int"))))))
    return (out.withColumn("q8_scale", scale)
            .withColumn("q8_codes", codes).drop("_ma"))


# ---------------------------------------------------------------- PQ / ADC

def pq_train(emb: DataFrame, m: int = 8, ksub: int = 16, dim: int = 64,
             vec_col: str = "embedding", id_col: str = "vec_id",
             iters: int = 1) -> list:
    """Deterministic PQ codebook training: seed each subspace's ksub
    centroids from the subvectors of the ksub md5(id)-ranked vectors
    (a data-scale k-means seeding no engine can disagree on), then run
    `iters` Lloyd passes with the same quantized-integer sums as
    :func:`lloyd_refine` — one shuffle per pass covering ALL subspaces
    at once (group key (sub, code)), collects bounded by m * ksub.
    Returns codebook[m][ksub][d_sub] of python floats.

    Only well-formed vectors train (non-NULL, exactly ``dim`` wide,
    finite components — the shared :func:`_trainable` rule): a NULL
    embedding among the ksub md5-ranked seed rows died as an opaque
    driver-side TypeError (``None[j]``), and malformed vectors diluted
    the Lloyd means the same way as in lloyd_refine (counted in
    ``_n``, absent from the sums)."""
    d_sub = dim // m
    # spread + Arrow-kernel code assignment (r19): same rationale and
    # exactness as lloyd_refine — the explode/groupBy sums are
    # order-free and the nearest-code argmin is the kernel twin of the
    # former per-row array_sort-of-struct fold (see _append_ann_cols)
    emb = ensure_min_partitions(emb).filter(_trainable(vec_col, dim))
    seed_rows = (emb.select(F.col(id_col), F.col(vec_col))
                 .withColumn("_h", F.md5(F.col(id_col).cast("string")))
                 .orderBy("_h", id_col).limit(ksub).collect())
    if len(seed_rows) < ksub:
        raise ValueError(f"need >= {ksub} vectors to train a codebook")
    codebook = [[[float(seed_rows[c][vec_col][sub * d_sub + j])
                  for j in range(d_sub)]
                 for c in range(ksub)]
                for sub in range(m)]
    for _ in range(iters):
        coded = _append_ann_cols(
            emb.select(F.col(vec_col).alias("_v")),
            "_v", codes=("_codes", m, ksub, dim, codebook))
        # explode + quantized sums as ONE spark.sql over the bound
        # frame (r19, the lloyd_refine expr-text recipe; the posexplode
        # pos is the 0-based sub index, the slice is the sub's
        # d_sub-wide window — values identical by transcription)
        sums = ", ".join(
            f"sum(cast(floor(cast(element_at(sv, {j + 1}) as double)"
            f" * {_LLOYD_Q!r}D) as bigint)) as _s{j}"
            for j in range(d_sub))
        agg = coded.sparkSession.sql(
            f"""select sub, code, count(*) as _n, {sums}
                from (select sub, code,
                             slice(_v, sub * {d_sub} + 1, {d_sub}) as sv
                      from (select posexplode(_codes) as (sub, code), _v
                            from {{c}}))
                group by sub, code""", c=coded)
        rows = {(int(r["sub"]), int(r["code"])): r for r in agg.collect()}
        codebook = [
            [([float(rows[(sub, c)][f"_s{j}"])
               / (rows[(sub, c)]["_n"] * _LLOYD_Q)
               for j in range(d_sub)]
              if (sub, c) in rows and rows[(sub, c)]["_n"] > 0
              else codebook[sub][c])
             for c in range(ksub)]
            for sub in range(m)
        ]
    return codebook


def pq_encode(emb: DataFrame, m: int = 8, ksub: int = 16, dim: int = 64,
              vec_col: str = "embedding", codebook=None) -> DataFrame:
    """Add ``pq_codes`` (array of m ints) and ``pq_packed`` — the codes
    packed little-endian into ONE long when m * log2(ksub) <= 63 (NULL
    otherwise; use the array); at corpus scale the packed code is the
    stored representation: m*log2(ksub) bits per vector instead of
    dim * 32.

    r19: codes come from the Arrow kernel (see
    :func:`_append_ann_cols`); the kernel
    pass ships every input column through the Python worker, so keep
    the frame projected to what you need (all in-repo callers do).
    The input is spread to the cluster's parallelism first (a no-op at
    scale; locally a single-file corpus otherwise encodes on one
    core — row order is not part of this function's contract)."""
    bits = max(1, (ksub - 1).bit_length())
    coded = _append_ann_cols(ensure_min_partitions(emb), vec_col,
                             codes=("pq_codes", m, ksub, dim, codebook))
    if m * bits > 63:
        return coded.withColumn("pq_packed",
                                F.lit(None).cast("long"))
    packed = None
    for sub in range(m):
        term = F.shiftleft(
            F.element_at(F.col("pq_codes"), sub + 1).cast("long"),
            sub * bits)
        packed = term if packed is None else packed + term
    return coded.withColumn("pq_packed", packed)


def pq_reconstruct_col(codes: Column, m: int, ksub: int,
                       d_sub: int, codebook=None) -> Column:
    """Decode a PQ code array back to its approximate vector: the
    concatenation of the coded sub-centroids. Each sub's centroid
    table is ONE nested ``F.lit`` (r19, the :func:`_centroid_col`
    rationale — same Literal tree, m + 1 py4j calls instead of
    ~m * ksub * d_sub)."""
    parts = []
    for sub in range(m):
        tbl = ([[float(w) for w in codebook[sub][c]] for c in range(ksub)]
               if codebook is not None
               else [_md5_seed(f"pq{sub}_{c}_", d_sub)
                     for c in range(ksub)])
        parts.append(F.element_at(
            F.lit(tbl), F.element_at(codes, sub + 1) + 1))
    return F.concat(*parts)


def _adc_col() -> Column:
    """The asymmetric-distance score of a (query ``_qv``, candidate
    ``_recon``) pair, 6 dp: ONE sequential dim-wide fold against the
    reconstruction (not a sum of per-subspace dots) — the same float
    grouping as the oracle's list_dot_product, so the rank keys agree
    bitwise. A NaN score becomes NULL and ranks last."""
    return F.nanvl(F.round(_dot(F.col("_qv"), F.col("_recon")), 6),
                   F.lit(None).cast("double"))


def pq_adc_topk(emb: DataFrame, k: int = 5, m: int = 8, ksub: int = 16,
                dim: int = 64, id_col: str = "vec_id",
                vec_col: str = "embedding", n_queries: int = 10,
                train_iters: int = 1, codebook=None) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the FAISS IndexPQ
    baseline): queries stay full-precision, the corpus is its codes;
    score(q, x) = <q, reconstruct(codes_x)> = sum_j <q_j,
    cent[j][code_j]>. The corpus side carries ONLY (id, codes) — m *
    log2(ksub) bits per vector — and the query side broadcasts (it is
    the small side by construction); :func:`ivf_pq_topk` adds IVF
    cell filters for candidate restriction at larger scale. Returns
    (query_id, neighbor_id, adc,
    rank) with adc rounded to 6 dp and ranks dense per query.

    NULL-embedding rows are excluded (uncodable, unsearchable — the
    :func:`cosine_topk` contract); a NaN query/reconstruction scores
    NULL adc (``nanvl``) and ranks last instead of hijacking rank 1
    (Spark orders NaN above every real double)."""
    d_sub = dim // m
    emb = emb.filter(_searchable(vec_col))
    if codebook is None and train_iters > 0:
        codebook = pq_train(emb, m, ksub, dim, vec_col, id_col,
                            iters=train_iters)
    coded = pq_encode(emb.select(F.col(id_col), F.col(vec_col)),
                      m, ksub, dim, vec_col, codebook) \
        .select(F.col(id_col).alias("neighbor_id"),
                pq_reconstruct_col(F.col("pq_codes"), m, ksub, d_sub,
                                   codebook).alias("_recon"))
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double"))
        .alias("_qv"))
    joined = coded.crossJoin(F.broadcast(q)) \
        .filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select("query_id", "neighbor_id", _adc_col().alias("adc"))
    return _ranked_topk(scored, "adc", k)


def ivf_pq_topk(emb: DataFrame, k: int = 5, n_cells: int = 8,
                nprobe: int = 2, m: int = 8, ksub: int = 16,
                dim: int = 64, id_col: str = "vec_id",
                vec_col: str = "embedding", n_queries: int = 10,
                refine: int = 0, train_iters: int = 1,
                codebook=None, weights: "list | None" = None) -> DataFrame:
    """Composed IVF-PQ (the FAISS IndexIVFPQ shape — the standard
    billion-scale ANN design): the IVF inverted lists bound the
    CANDIDATE count (each query probes its nprobe best cells; the join
    is a per-cell equi-join, never all-pairs) and the PQ codes bound
    the MEMORY (candidates carry m*log2(ksub)-bit codes, reconstructed
    to score, instead of dim * 32-bit vectors). Scores are asymmetric
    distances: one sequential dot of the full-precision query against
    the code reconstruction. Returns (query_id, neighbor_id, adc,
    rank).

    NULL-embedding rows are excluded and NaN asymmetric distances
    score NULL and rank last — the :func:`pq_adc_topk` contract.

    ``weights`` (r19): pre-refined centroids used as-is, the
    :func:`ivf_ann_topk` contract — train once, share."""
    emb = ensure_min_partitions(emb).filter(_searchable(vec_col))
    if weights is None and refine:
        weights = lloyd_refine(emb, n_cells, dim, vec_col, iters=refine)
    if codebook is None and train_iters > 0:
        codebook = pq_train(emb, m, ksub, dim, vec_col, id_col,
                            iters=train_iters)
    d_sub = dim // m
    # ONE Arrow pass assigns both the IVF cell and the PQ codes (r19:
    # one boundary crossing; see _append_ann_cols)
    cand = _append_ann_cols(
        emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("_v")),
        "_v",
        cell=("_cell", n_cells, dim, weights),
        codes=("_codes", m, ksub, dim, codebook),
    ).select(
        "neighbor_id", "_cell",
        pq_reconstruct_col(F.col("_codes"), m, ksub, d_sub, codebook)
        .alias("_recon"))
    q = (emb.filter(F.col(id_col) < n_queries)
         .select(F.col(id_col).alias("query_id"),
                 F.transform(F.col(vec_col),
                             lambda x: x.cast("double")).alias("_qv"),
                 _probe_cells(F.col(vec_col), n_cells, dim, weights,
                              nprobe).alias("_cell")))
    scored = (cand.join(F.broadcast(q), "_cell")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", _adc_col().alias("adc")))
    return _ranked_topk(scored, "adc", k)


def semantic_dedup(emb: DataFrame, threshold: float = 0.95,
                   n_cells: int = 8, dim: int = 64,
                   train_iters: int = 1, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): embedding-level semantic
    deduplication — k-means-cluster the embeddings, treat
    within-cluster pairs with cosine >= ``threshold`` as semantic
    duplicates, connect them into groups, and keep ONE representative
    per group (the minimum id — deterministic; the paper's
    farthest-from-centroid policy is a representative swap on the same
    machinery). Returns (id, cell, keep, dup_of): ``dup_of`` is the
    kept representative's id on dropped rows, NULL on kept rows.

    Scale shape — the SemDeDup insight is that candidate pairs only
    need to exist WITHIN a cluster (cross-cluster near-identical pairs
    are rare and ignorable), so this is never corpus-quadratic:
    1. centroids via :func:`lloyd_refine` (one shuffle per iteration,
       n_cells-bounded collect, oracle-exact integer sums);
    2. one (cell) shuffle into sorted member arrays, i<j pairs
       streamed by the same chained-Generate pattern as the LSH /
       simhash paths (resident memory O(cell population), pairs
       filtered by the exact cosine before leaving codegen);
    3. duplicate groups via :func:`neardup_components` min-label
       propagation (bounded rounds, checkpointed).
    Per-cell cost is (corpus/n_cells)^2 — n_cells is the knob that
    trades recall for cost, exactly as in the paper.
    """
    from fstd2pandas_spark.operators.llm.cluster import neardup_components
    from fstd2pandas_spark.operators.llm.dedup import require_group_within

    w = lloyd_refine(emb, n_cells, dim, vec_col, iters=train_iters)
    # cells via the Arrow kernel (see _append_ann_cols)
    assigned = _append_ann_cols(
        ensure_min_partitions(emb).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "v", cell=("cell", n_cells, dim, w))
    # cell members carry the FULL vector (dim floats each), so the
    # group-size ceiling must hold BEFORE the fold ever buffers a hot
    # cell (a cosine-degenerate corpus — many zero/constant embeddings
    # — collapses into one cell): a whole-partition window count over
    # the same hashpartitioning(cell) the aggregation needs raises
    # in-plan while rows are still narrow, and the exchange is reused
    # by the fold (one shuffle total, plan-locked in tests)
    # NULL embeddings cannot pair (their cosine is NULL against
    # everything) and must not trip the cell ceiling from the cell-0
    # corner they all crowd into — excluded from the pair plane HERE;
    # they stay in `assigned`, so the output still carries every input
    # row (a NULL-embedding doc is KEPT: unknown content is never a
    # duplicate of anything)
    pairable = assigned.filter(F.col("v").isNotNull())
    cell_n = F.count(F.lit(1)).over(Window.partitionBy("cell"))
    guarded = (pairable
               .withColumn("_cn", cell_n)
               .filter(require_group_within(F.col("_cn"), "SemDeDup cell"))
               .drop("_cn"))
    # each member's norm rides the struct (hoisted: the cosine_col
    # rationale); `n` is a function of `v`, so the third field can
    # never break an (i, v) tie differently in the sort
    grouped = (guarded.groupBy("cell")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.col("id").alias("i"),
                            F.col("v").alias("v"),
                            _norm(F.col("v")).alias("n")))).alias("ms"))
               .filter(F.size("ms") > 1))
    outer = grouped.select(
        "cell", "ms", F.posexplode("ms").alias("_i", "a"))
    cos = cosine_col(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n"))
    pairs = (outer.select(
        "a",
        F.explode(F.expr("slice(ms, _i + 2, size(ms) - _i - 1)"))
        .alias("b"))
        .filter(cos >= F.lit(float(threshold)))
        .select(F.col("a.i").alias("doc_a"), F.col("b.i").alias("doc_b")))
    comp = neardup_components(pairs)
    return (
        assigned.hint("merge")
        .join(comp, assigned["id"] == comp["node"], "left")
        .select(
            "id", "cell",
            (F.col("component").isNull()
             | (F.col("component") == F.col("id"))).alias("keep"),
            F.when(F.col("component") != F.col("id"), F.col("component"))
            .alias("dup_of"))
    )
