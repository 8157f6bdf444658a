"""Seeded input generators with answers known by construction.

Every generator takes a ``numpy.random.Generator`` and writes its inputs
with the package's own container writer (``xdf_format.write_xdf``); the
expected answers are computed here in numpy, never by the engine.

Field values are whole multiples of 1/8 spanning well under 2**16
quanta, so datyp 134 / nbits 16 quantization is lossless and the
expected statistics do not depend on the codec.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np

from fstd2pandas_spark.functions.codecs import (
    datetime_to_stamp_py, encode_ip_py)
from fstd2pandas_spark.schema import META_NOMVARS
from fstd2pandas_spark.sources.xdf_format import write_xdf

BASE_DATE = dt.datetime(2024, 1, 15, 0, 0)
DEET = 300

#: every etiket of the analysis corpus belongs to one grid, so
#: (nomvar, typvar, etiket, ip1, ip2) names one record
PRESSURE_LEVELS = [1000.0, 925.0, 850.0, 700.0, 500.0, 250.0]
SIGMA_LEVELS = [0.995, 0.95, 0.85, 0.7, 0.5, 0.3]
HYBRID_CANDIDATES = [1.0, 0.995, 0.98, 0.95, 0.9, 0.85, 0.8, 0.75, 0.7,
                     0.65, 0.6, 0.5, 0.4, 0.3, 0.2]
HYBRID_PREF = 100000.0


def _stamp(hours: int) -> int:
    return datetime_to_stamp_py(BASE_DATE + dt.timedelta(hours=hours))


def decode_level(ip1: int) -> float:
    """Level value of a new-style encoded ip1, the same arithmetic the
    engine uses (mantissa times a power of ten, in double)."""
    exp = (ip1 >> 20) & 15
    mant = ip1 & 0xFFFFF
    return float(mant) * math.pow(10.0, 4 - exp)


def _field(rng, n: int, base: float, spread: int) -> np.ndarray:
    """``n`` float32 values ``base + k/8`` with integer ``k`` in
    [0, spread): exactly representable after nbits-16 quantization."""
    k = rng.integers(0, spread, size=n)
    k[0] = 0                   # pin the min so the range is known
    k[-1] = spread - 1         # and the max
    return (base + k / 8.0).astype(np.float32)


def _rec(nomvar, typvar, etiket, ni, nj, ip1, ip2, hours, grtyp, ig,
         d, datyp=134, nbits=16, ip3=0):
    npas = hours * 3600 // DEET
    return dict(nomvar=nomvar, typvar=typvar, etiket=etiket, ni=ni, nj=nj,
                nk=1, ip1=ip1, ip2=ip2, ip3=ip3, deet=DEET, npas=npas,
                datyp=datyp, nbits=nbits, grtyp=grtyp, ig1=ig[0],
                ig2=ig[1], ig3=0, ig4=0, datev=_stamp(hours), d=d)


def _hybrid_levels(n: int) -> "list[float]":
    """Hybrid levels whose kind-5 ip1 survives the float32 ``!!`` table
    exactly (the engine rounds the table's ip1 column back to int)."""
    out = [h for h in HYBRID_CANDIDATES
           if float(np.float32(encode_ip_py(h, 5))) == encode_ip_py(h, 5)]
    if len(out) < n:
        raise ValueError(f"only {len(out)} float32-exact hybrid levels")
    return out[:n]


def write_analysis_corpus(rng, out_dir: str, ni: int, nj: int,
                          n_times: int, n_levels: int) -> dict:
    """One multi-grid XDF file: a pressure-level grid with ``>>``/``^^``
    axes and ``@@`` mask pairs, a sigma grid with P0/PT (ETA_1002) and a
    ``!!`` hybrid grid with P0 (HYBRID_5005). Returns the expected
    answers of fststat, unit_convert, quick_pressure and apply_mask."""
    os.makedirs(out_dir, exist_ok=True)
    n = ni * nj
    hours = [6 * t for t in range(n_times)]
    grids: "dict[str, list[dict]]" = {"grid_p": [], "grid_e": [],
                                      "grid_h": []}

    # --- pressure grid: Z grid on >>/^^ axes, PRESSURE_2001 ----------
    gp = (1201, 1301)
    p_levels = PRESSURE_LEVELS[:n_levels]
    recs = grids["grid_p"]
    recs.append(_rec(">>", "X", "AXES_P", ni, 1, gp[0], gp[1], 0, "E",
                     (900, 0), np.linspace(-100, -60, ni).astype("f4"),
                     datyp=5, nbits=32))
    recs.append(_rec("^^", "X", "AXES_P", 1, nj, gp[0], gp[1], 0, "E",
                     (900, 0), np.linspace(30, 60, nj).astype("f4"),
                     datyp=5, nbits=32))
    for h in hours:
        for lv in p_levels:
            ip1 = encode_ip_py(lv, 2)
            recs.append(_rec("TT", "P", "RUN_P", ni, nj, ip1, h, h, "Z", gp,
                             _field(rng, n, -60.0 + lv / 25.0, 320)))
            recs.append(_rec("UU", "P", "RUN_P", ni, nj, ip1, h, h, "Z", gp,
                             _field(rng, n, -40.0, 640)))
            recs.append(_rec("GZ", "P@", "RUN_P", ni, nj, ip1, h, h, "Z",
                             gp, _field(rng, n, lv / 10.0, 800)))
            mask = (rng.random(n) > 0.3).astype(np.float32)
            mask[0], mask[-1] = 0.0, 1.0
            recs.append(_rec("GZ", "@@", "RUN_P", ni, nj, ip1, h, h, "Z",
                             gp, mask, datyp=2, nbits=1))

    # --- sigma grid with P0 + PT: ETA_1002 ---------------------------
    ge = (1202, 1302)
    recs = grids["grid_e"]
    p0_e = _field(rng, n, 980.0, 320)
    pt_e = np.full(n, 10.0, dtype=np.float32)
    recs.append(_rec("P0", "P", "RUN_E", ni, nj, 0, 0, 0, "L", ge, p0_e))
    recs.append(_rec("PT", "P", "RUN_E", ni, nj, 0, 0, 0, "L", ge, pt_e))
    s_levels = SIGMA_LEVELS[:n_levels]
    for h in hours:
        for lv in s_levels:
            ip1 = encode_ip_py(lv, 1)
            recs.append(_rec("TT", "P", "RUN_E", ni, nj, ip1, h, h, "L", ge,
                             _field(rng, n, -50.0 + 40 * lv, 320)))
            recs.append(_rec("HU", "P", "RUN_E", ni, nj, ip1, h, h, "L", ge,
                             _field(rng, n, 0.0, 64)))

    # --- !! hybrid grid with P0: HYBRID_5005 -------------------------
    gh = (1203, 1303)
    recs = grids["grid_h"]
    h_levels = _hybrid_levels(n_levels)
    table = [(1.0, 0.0, 0.0), (2.0, HYBRID_PREF, 0.0)]
    table += [(float(encode_ip_py(h, 5)), math.log(h * HYBRID_PREF), 1.0)
              for h in h_levels]
    recs.append(_rec("!!", "X", "VGRID_H", 3, len(table), gh[0], gh[1], 0,
                     "X", (5005, 0),
                     np.array([v for col in table for v in col]),
                     datyp=5, nbits=64))
    p0_h = _field(rng, n, 990.0, 240)
    recs.append(_rec("P0", "P", "RUN_H", ni, nj, 0, 0, 0, "Z", gh, p0_h))
    for h in hours:
        for lv in h_levels:
            ip1 = encode_ip_py(lv, 5)
            recs.append(_rec("TT", "P", "RUN_H", ni, nj, ip1, h, h, "Z", gh,
                             _field(rng, n, -45.0 + 30 * lv, 320)))
            recs.append(_rec("UU", "P", "RUN_H", ni, nj, ip1, h, h, "Z", gh,
                             _field(rng, n, -30.0, 480)))

    every = [r for rs in grids.values() for r in rs]
    write_xdf(os.path.join(out_dir, "corpus.fst"), every)

    expected = {
        "n_meta": sum(1 for r in every if r["nomvar"] in META_NOMVARS),
        "field_bytes": 4 * sum(int(np.asarray(r["d"]).size) for r in every),
        "fststat": _expect_stats(every),
        "unit_convert": _expect_kelvin(every),
        "quick_pressure": _expect_pressure(
            grids, gp, ge, gh, p0_e, pt_e, p0_h, table),
        "apply_mask": _expect_mask(grids["grid_p"], len(every)),
    }
    return expected


def record_name(r: dict) -> tuple:
    return (r["nomvar"], r["typvar"], r["etiket"], int(r["ip1"]),
            int(r["ip2"]))


def _expect_stats(recs) -> dict:
    out = {}
    for r in recs:
        d = np.asarray(r["d"], dtype=np.float32).astype(np.float64)
        out[record_name(r)] = (float(d.min()), float(d.max()),
                               float(d.mean()))
    return out


def _expect_kelvin(recs) -> dict:
    """TT (celsius) converts to kelvin; every other record passes
    through unchanged. Keyed without typvar."""
    out = {}
    for r in recs:
        d = np.asarray(r["d"], dtype=np.float32)
        if r["nomvar"] == "TT":
            d = (d.astype(np.float64) * 1.0 + 273.15).astype(np.float32)
        name = record_name(r)
        out[name[:1] + name[2:]] = (float(d.min()), float(d.max()))
    return out


def _expect_pressure(grids, gp, ge, gh, p0_e, pt_e, p0_h, table) -> dict:
    """PX per (grid, datev, ip1) level: min, max, mean."""
    out = {}

    def put(grid, r, px):
        px = np.asarray(px, dtype=np.float32).astype(np.float64)
        out[(grid, int(r["datev"]), int(r["ip1"]))] = (
            float(px.min()), float(px.max()), float(px.mean()))

    p0e, pte = p0_e.astype(np.float64), pt_e.astype(np.float64)
    p0h = p0_h.astype(np.float64)
    t32 = np.asarray([v for col in table for v in col], dtype=np.float32)
    pref = float(t32[4])
    ab = {int(round(float(t32[3 * j]))): (float(t32[3 * j + 1]),
                                          float(t32[3 * j + 2]))
          for j in range(len(table))}
    for name, g in (("grid_p", gp), ("grid_e", ge), ("grid_h", gh)):
        grid = f"{g[0]}{g[1]}"
        for r in grids[name]:
            if r["nomvar"] in ("TT", "UU", "HU", "GZ"):
                lvl = decode_level(int(r["ip1"]))
                n = int(r["ni"]) * int(r["nj"])
                if name == "grid_p":
                    px = np.full(n, lvl)
                elif name == "grid_e":
                    px = lvl * (p0e - pte) + pte
                else:
                    a, b = ab[int(r["ip1"])]
                    px = np.exp(a + b * np.log(p0h * 100.0 / pref)) / 100.0
                put(grid, r, px)
    return out


def _expect_mask(recs, n_records: int) -> dict:
    """Per masked GZ record: kept-cell count and kept-value sum; the
    output drops one mask row per pair."""
    masks = {record_name(r)[2:]: np.asarray(r["d"]) for r in recs
             if r["typvar"] == "@@"}
    out = {}
    for r in recs:
        if r["typvar"] == "P@":
            m = masks[record_name(r)[2:]]
            d = np.asarray(r["d"], dtype=np.float32).astype(np.float64)
            keep = m != 0
            out[record_name(r)] = (int(keep.sum()), float(d[keep].sum()))
    return {"rows": n_records - len(masks), "masked": out}


# ---------------------------------------------------------------------------
# catalog: many files, many small records, selective queries
# ---------------------------------------------------------------------------

CATALOG_NOMVARS = ["TT", "UU", "VV", "HU", "GZ", "ES", "WW", "QC"]
CATALOG_ETIKETS = ["R1_A", "R1_B", "R2_A", "R2_B", "G1_A", "G1_B"]
CATALOG_LEVELS = [1000.0, 925.0, 850.0, 700.0, 500.0, 400.0, 300.0,
                  250.0, 200.0, 100.0]


def write_catalog(rng, out_dir: str, n_files: int, recs_per_file: int,
                  ni: int, nj: int) -> dict:
    """``n_files`` XDF files of ``recs_per_file`` records; the metadata
    columns are returned as numpy arrays so every query's answer is a
    numpy mask over them."""
    os.makedirs(out_dir, exist_ok=True)
    n = ni * nj
    meta = {k: [] for k in ("nomvar", "etiket", "ip1", "ip2", "sum")}
    for f in range(n_files):
        recs = []
        for _ in range(recs_per_file):
            nv = CATALOG_NOMVARS[rng.integers(len(CATALOG_NOMVARS))]
            et = CATALOG_ETIKETS[rng.integers(len(CATALOG_ETIKETS))]
            lv = CATALOG_LEVELS[rng.integers(len(CATALOG_LEVELS))]
            h = int(6 * rng.integers(0, 8))
            d = _field(rng, n, float(rng.integers(-50, 50)), 400)
            recs.append(_rec(nv, "P", et, ni, nj, encode_ip_py(lv, 2), h, h,
                             "L", (1400 + f, 1500), d))
            meta["nomvar"].append(nv)
            meta["etiket"].append(et)
            meta["ip1"].append(encode_ip_py(lv, 2))
            meta["ip2"].append(h)
            meta["sum"].append(float(d.astype(np.float64).sum()))
        write_xdf(os.path.join(out_dir, f"cat_{f:03d}.fst"), recs)
    return {k: np.asarray(v) for k, v in meta.items()}


def catalog_queries(rng, cols: dict, n: int) -> "list[dict]":
    """A seeded sequence of selective queries with their answers. Kinds:
    ``count`` (metadata-only, query pushdown), ``decoded`` (metadata
    decode, collects the decoded level of every match) and ``payload``
    (field data for a handful of records)."""
    out = []
    kinds = ["count", "decoded", "payload"]
    for i in range(n):
        kind = kinds[i % len(kinds)]
        nv = CATALOG_NOMVARS[rng.integers(len(CATALOG_NOMVARS))]
        et = CATALOG_ETIKETS[rng.integers(len(CATALOG_ETIKETS))]
        lv = CATALOG_LEVELS[rng.integers(len(CATALOG_LEVELS))]
        h = int(6 * rng.integers(0, 8))
        ip1 = encode_ip_py(lv, 2)
        if kind == "count":
            q = f"etiket=='{et}' and ip1=={ip1}"
            m = (cols["etiket"] == et) & (cols["ip1"] == ip1)
            out.append(dict(kind=kind, query=q, count=int(m.sum())))
        elif kind == "decoded":
            q = f"nomvar=='{nv}' and ip1=={ip1}"
            m = (cols["nomvar"] == nv) & (cols["ip1"] == ip1)
            out.append(dict(kind=kind, query=q, count=int(m.sum()),
                            level=decode_level(ip1)))
        else:
            q = (f"nomvar=='{nv}' and etiket=='{et}' and ip2=={h}")
            m = ((cols["nomvar"] == nv) & (cols["etiket"] == et)
                 & (cols["ip2"] == h))
            out.append(dict(kind=kind, query=q, count=int(m.sum()),
                            sum=float(cols["sum"][m].sum())))
    return out


# ---------------------------------------------------------------------------
# documents and embeddings with planted duplicates
# ---------------------------------------------------------------------------

def _words(rng, vocab: "list[str]", n: int) -> "list[str]":
    return [vocab[i] for i in rng.integers(0, len(vocab), size=n)]


def shingles(text: str, k: int = 3) -> "set[str]":
    """Distinct word k-shingles of lowercased, single-space-split text
    (the engine's tokenization)."""
    t = text.lower().split(" ")
    return {" ".join(t[j:j + k]) for j in range(len(t) - k + 1)}


def make_docs(rng, n_base: int, n_exact: int, n_chains: int,
              chain_len: int, words: int, threshold: float) -> dict:
    """Random docs plus planted exact copies and near-duplicate chains.

    A chain step re-draws 3 isolated words (3 shingles each), so
    neighbours share ~0.6 of their shingles and docs two steps apart
    ~0.35: with ``threshold`` 0.5 each chain is a path whose diameter
    forces ``chain_len - 1`` propagation rounds. The expected pairs are
    the exact Jaccard pairs over all docs, found through an inverted
    index, and the components their union-find closure."""
    vocab = [f"w{i:05d}" for i in range(20000)]
    texts: "list[str]" = []
    for _ in range(n_base):
        texts.append(" ".join(_words(rng, vocab, words)))
    chains = []
    for _ in range(n_chains):
        toks = _words(rng, vocab, words)
        ids = []
        for step in range(chain_len):
            if step:
                # consecutive steps edit lattices 3 words apart, so the
                # shingles one step kills never overlap the next step's
                slots = np.arange(1 + 3 * (step % 3), words - 1, 9)
                for p in rng.choice(slots, size=3, replace=False):
                    toks[int(p)] = vocab[int(rng.integers(len(vocab)))]
            ids.append(len(texts))
            texts.append(" ".join(toks))
        chains.append(ids)
    exact_src = rng.choice(n_base, size=n_exact, replace=False)
    for s in exact_src:
        texts.append(texts[int(s)])
    # shuffle the ids, then give each chain its own ids in chain order:
    # the minimum sits at one end, so every seed needs the same
    # chain_len - 1 changing propagation rounds
    new_of_old = rng.permutation(len(texts))
    for ids in chains:
        for old, new in zip(ids, sorted(new_of_old[ids])):
            new_of_old[old] = new
    shuffled = [""] * len(texts)
    for old, new in enumerate(new_of_old):
        shuffled[new] = texts[old]
    texts = shuffled

    groups: "dict[str, list[int]]" = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    exact = {min(v): len(v) for v in groups.values()}
    exact_pairs = {(a, b) for v in groups.values() for a in v for b in v
                   if a < b}

    sh = [shingles(t) for t in texts]
    index: "dict[str, list[int]]" = {}
    for i, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(i)
    shared: "dict[tuple[int, int], int]" = {}
    for ids in index.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                key = (ids[x], ids[y])
                shared[key] = shared.get(key, 0) + 1
    pairs = {}
    for (a, b), c in shared.items():
        j = c / (len(sh[a]) + len(sh[b]) - c)
        if j >= threshold:
            pairs[(a, b)] = round(j, 6)

    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)   # roots stay the minimum
    comps = {x: find(x) for p in pairs for x in p}
    return dict(texts=texts, exact=exact, exact_pairs=exact_pairs,
                pairs=pairs, components=comps)


def make_embeddings(rng, n_clusters: int, per_cluster: int, n_single: int,
                    dim: int, threshold: float) -> dict:
    """Tight clusters (cosine > 0.99 within) around random centres plus
    unclustered vectors; the expected pairs are every pair whose cosine
    in double reaches ``threshold``."""
    vecs = []
    for _ in range(n_clusters):
        c = rng.standard_normal(dim)
        for _ in range(per_cluster):
            vecs.append(c + 0.01 * rng.standard_normal(dim))
    for _ in range(n_single):
        vecs.append(rng.standard_normal(dim))
    v = np.asarray(vecs, dtype=np.float32)
    v64 = v.astype(np.float64)
    nrm = np.linalg.norm(v64, axis=1)
    cos = (v64 @ v64.T) / np.outer(nrm, nrm)
    ia, ib = np.nonzero(np.triu(cos >= threshold, k=1))
    pairs = {(int(a), int(b)): float(cos[a, b]) for a, b in zip(ia, ib)}
    return dict(vectors=v, pairs=pairs)
