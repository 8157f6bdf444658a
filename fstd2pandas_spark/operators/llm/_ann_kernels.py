"""Arrow-vectorized ANN assignment kernels (r19, guide §4.2).

The IVF cell argmax and PQ code argmin are per-row distance scans over
literal centroid tables: n_cells x dim dot products / m x ksub x d_sub
L2 folds per row. As Column expressions they evaluate in Catalyst's
interpreter (the HOF folds bail out of codegen; the flat expansion was
measured 6x slower in r18), which made them the repo's largest absolute
cost (~30 s gate build at sf0.1 for 2,000 rows). These kernels do the
same arithmetic over Arrow batches in numpy — vectorized across ROWS,
sequential across DIMENSIONS — so every fold is bit-identical to the
engine's sequential ``aggregate(zip_with(...))`` evaluation and to the
oracle's SQL mirror.

Bit-exactness contract (argued once here, pinned against the Column
implementations, which live in tests/test_ann_kernels.py as the
oracles — ``ivf_cell_col`` and ``pq_codes_col``):

- dot:  ``acc = 0.0; for j: acc = acc + double(x[j]) * w[j]`` — the
  exact left fold ``aggregate(zip_with(v, w, (x,y) -> double(x)*y),
  0.0, (a,x) -> a+x)`` performs. numpy element-wise ops on float64 are
  IEEE-754 doubles, the same arithmetic; only the ROW axis is
  vectorized, the j-loop keeps the fold order.
- L2:   ``acc = acc + (double(x[j]) - c[j])**2`` likewise.
- IVF argmax (:func:`ivf_cells`): first occurrence of the maximum
  (= the lowest winning cell, matching ``array_position(scores,
  array_max(scores))``); a NaN score wins and the FIRST NaN's index is
  taken (Spark orders NaN greatest and equates NaN = NaN, so
  ``array_max`` is NaN and ``array_position`` finds the first). A
  degenerate row — NULL vector, length != dim, or any NULL element —
  has every score NULL in the Column form (``zip_with`` pads the short
  side with NULL, which NULLs the whole fold) and falls to cell 0 via
  the ``coalesce``; the kernel short-circuits those rows to 0.
- PQ argmin (:func:`pq_codes`): first occurrence of the minimum
  (= the lowest winning code, matching the ``array_sort`` of
  ``struct(d, c)``). Within one subvector the distance is NaN for ALL
  codes or NONE (the centroids are finite literals; a NaN/NULL element
  of the row's slice poisons every code's fold identically), so
  masking NaN to +inf before the argmin reproduces the tie-to-lowest-
  code result exactly; a slice that is short or carries a NULL element
  NULLs every code's fold and sorts to code 0 the same way.

No result caching: the kernels are pure functions of the batch and the
literal centroid tables shipped in the task closure.
"""

from __future__ import annotations

import numpy as np


def _decompose(vec):
    """Split an Arrow ``list<floating>`` array into numpy parts.

    Returns ``(row_null, lengths, starts, flat, flat_null)`` where
    ``row_null[i]`` marks NULL rows, ``lengths[i]`` the element count
    (0 for NULL rows), ``starts[i]`` the row's offset into ``flat``
    (the concatenated element values of NON-NULL rows, as float64 with
    NULL elements position-preserved), and ``flat_null`` the element
    NULL mask."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(vec)
    row_null = np.asarray(pc.is_null(vec).to_numpy(zero_copy_only=False),
                          dtype=bool)
    lengths = pc.list_value_length(vec)
    lengths = np.asarray(lengths.fill_null(0).to_numpy(zero_copy_only=False),
                         dtype=np.int64)
    lengths[row_null] = 0
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    flat_arr = pc.list_flatten(vec)  # skips NULL rows, keeps NULL elements
    flat_null = np.asarray(pc.is_null(flat_arr).to_numpy(
        zero_copy_only=False), dtype=bool)
    # float64 view; NULL slots become arbitrary values — masked via
    # flat_null (never via NaN, which is a legal vector element)
    flat = np.asarray(flat_arr.cast(pa.float64()).fill_null(0.0)
                      .to_numpy(zero_copy_only=False), dtype=np.float64)
    return row_null, lengths, starts[:-1], flat, flat_null


def ivf_cells(vec, weights: np.ndarray, dim: int) -> np.ndarray:
    """IVF cell per row of an Arrow list<float> array — the kernel twin
    of the ``ivf_cell_col`` oracle in tests/test_ann_kernels.py (see
    module docstring for the exactness argument). ``weights``:
    float64[n_cells, dim]."""
    n_cells = weights.shape[0]
    row_null, lengths, starts, flat, flat_null = _decompose(vec)
    n = len(row_null)
    cells = np.zeros(n, dtype=np.int32)
    ok = (~row_null) & (lengths == dim)
    if ok.any() and flat_null.any():
        # a NULL element anywhere in the row NULLs every score
        elem_bad = np.zeros(n, dtype=bool)
        idx = np.flatnonzero(flat_null)
        owner = np.searchsorted(starts, idx, side="right") - 1
        elem_bad[owner] = True
        ok &= ~elem_bad
    k = int(ok.sum())
    if k == 0:
        return cells
    sel_starts = starts[ok]
    gather = sel_starts[:, None] + np.arange(dim)[None, :]
    V = flat[gather]  # float64[k, dim]
    scores = np.empty((k, n_cells), dtype=np.float64)
    for c in range(n_cells):
        w = weights[c]
        acc = np.zeros(k, dtype=np.float64)
        for j in range(dim):
            acc = acc + V[:, j] * w[j]
        scores[:, c] = acc
    nanmask = np.isnan(scores)
    has_nan = nanmask.any(axis=1)
    win = np.argmax(scores, axis=1).astype(np.int32)
    if has_nan.any():
        win_nan = np.argmax(nanmask, axis=1).astype(np.int32)
        win = np.where(has_nan, win_nan, win)
    cells[ok] = win
    return cells


def pq_codes(vec, codebook: np.ndarray, m: int, ksub: int,
             d_sub: int) -> np.ndarray:
    """PQ code matrix int32[n, m] for an Arrow list<float> array — the
    kernel twin of the ``pq_codes_col`` oracle in
    tests/test_ann_kernels.py (see module docstring).
    ``codebook``: float64[m, ksub, d_sub]."""
    row_null, lengths, starts, flat, flat_null = _decompose(vec)
    n = len(row_null)
    codes = np.zeros((n, m), dtype=np.int32)
    elem_bad_any = flat_null.any()
    for sub in range(m):
        lo = sub * d_sub
        ok = (~row_null) & (lengths >= lo + d_sub)
        if not ok.any():
            continue
        sel_starts = starts[ok] + lo
        gather = sel_starts[:, None] + np.arange(d_sub)[None, :]
        if elem_bad_any:
            slice_bad = flat_null[gather].any(axis=1)
            if slice_bad.any():
                ok_idx = np.flatnonzero(ok)
                ok[ok_idx[slice_bad]] = False
                gather = gather[~slice_bad]
        if gather.shape[0] == 0:
            continue
        V = flat[gather]  # float64[k, d_sub]
        k = V.shape[0]
        dist = np.empty((k, ksub), dtype=np.float64)
        for c in range(ksub):
            cent = codebook[sub, c]
            acc = np.zeros(k, dtype=np.float64)
            for j in range(d_sub):
                diff = V[:, j] - cent[j]
                acc = acc + diff * diff
            dist[:, c] = acc
        # NaN is uniform across codes within a sub (see module
        # docstring): +inf mask keeps the tie-to-lowest-code argmin
        dist[np.isnan(dist)] = np.inf
        codes[ok, sub] = np.argmin(dist, axis=1).astype(np.int32)
    return codes
