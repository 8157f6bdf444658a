"""Operator-layer tests over the synthetic fst_records fixture."""

import math

import pytest
from pyspark.sql import functions as F

from fstd2pandas_spark.operators import (
    select_meta, select_with_meta, query_with_meta, SelectError,
    metadata_cleanup, set_vertical_coordinate_type, fststat, voir,
    drop_duplicates, unit_convert, apply_mask, recover_mask, quick_pressure,
)
from fstd2pandas_spark.operators.dedup import kinds_and_ip1
from fstd2pandas_spark.schema import META_NOMVARS


def test_select_meta(records):
    metas = select_meta(records).select("nomvar").distinct().collect()
    assert {r.nomvar for r in metas} <= set(META_NOMVARS)
    assert {">>", "^^", "!!", "P0", "PT", "HY"} <= {r.nomvar for r in metas}


def test_select_with_meta(records):
    out = select_with_meta(records, ["TT"])
    names = {r.nomvar for r in out.select("nomvar").distinct().collect()}
    assert "TT" in names
    assert ">>" in names and "^^" in names      # grid 1 axes kept
    assert "UU" not in names
    with pytest.raises(SelectError):
        select_with_meta(records, ["ZZ"])


def test_select_process_hy_null_nomvar_and_determinism(spark):
    """The round-15 select.py review, pinned:

    1. a NULL nomvar is a DATA row — pandas' ~isin keeps NaN, so the
       reference's meta/data split is a true partition; Spark's ~isin
       alone dropped the row from BOTH halves (and process_hy's
       != 'HY' dropped it entirely).
    2. process_hy's "first grid" is the (path, key)-ordered first of
       ALL surviving rows (the reference's row-order unique()[0]),
       not an arbitrary-partition F.first.
    3. an HY with NOTHING else surviving is DROPPED (std_io.py:107
       returns df unchanged when df is empty), never stamped with a
       fabricated NULL grid.
    """
    from fstd2pandas_spark.operators.select import (
        process_hy, select_meta, select_no_meta)

    df = spark.createDataFrame(
        [("HY", "None", "f1", 9),
         (None, "7788", "f1", 3),     # NULL nomvar, earliest key
         (">>", "1122", "f1", 5),     # meta row precedes the data row
         ("TT", "5566", "f1", 7)],
        "nomvar string, grid string, path string, key long")

    # 1: the split is a partition — NULL lands in no_meta, not nowhere
    assert select_meta(df).filter(F.col("nomvar").isNull()).count() == 0
    assert select_no_meta(df).filter(F.col("nomvar").isNull()).count() == 1

    out = process_hy(df).collect()
    by_var = {r["nomvar"]: r for r in out}
    assert None in by_var                      # NULL row survived
    # 2: HY stamped with key-3's grid (the NULL-nomvar row is first)
    assert by_var["HY"]["grid"] == "7788"
    assert len(out) == 4                       # exactly one HY, all rest

    # 3: HY alone -> dropped, not NULL-gridded
    only_hy = df.filter(F.col("nomvar") == "HY")
    assert process_hy(only_hy).count() == 0


def test_query_with_meta_prunes_unused_grids(records):
    out = query_with_meta(records, "nomvar = 'HU'")
    grids = {r.grid for r in out.filter(F.col("nomvar") == ">>")
             .select("grid").collect()}
    assert grids == {"3344"}        # only grid 2's axis survives


def test_metadata_cleanup_keeps_referenced_meta(records):
    # select only TT (pressure levels on grid 1): axes of grid 1 stay,
    # P0 of grid 2 (sigma) goes, HY goes (no hybrid ip1s in selection)
    sel = records.filter(F.col("nomvar").isin(["TT"]) | F.col("nomvar").isin(META_NOMVARS))
    out = metadata_cleanup(sel)
    names = {(r.nomvar, r.grid) for r in out.select("nomvar", "grid").distinct().collect()}
    assert ("TT", "1122") in names
    assert (">>", "1122") in names
    assert ("HY", "None") not in names
    assert ("P0", "3344") not in names
    # never drops data rows
    assert out.filter(F.col("nomvar") == "TT").count() == \
        records.filter(F.col("nomvar") == "TT").count()


def test_metadata_cleanup_hybrid_keeps_hy_and_toctoc(records):
    sel = records.filter(F.col("nomvar").isin(["UU"]) | F.col("nomvar").isin(META_NOMVARS))
    out = metadata_cleanup(sel)
    names = {r.nomvar for r in out.select("nomvar").distinct().collect()}
    assert "HY" in names            # hybrid levels present
    assert "!!" in names            # toctoc ig1=5005 matches hybrid family
    assert "PT" not in names        # PT is sigma-only


def test_vctype_classification(records):
    out = set_vertical_coordinate_type(records)
    got = {
        (r.nomvar, r.vctype)
        for r in out.select("nomvar", "vctype").distinct().collect()
    }
    # grid 2 has P0 AND PT -> eta; grid 1 lives in a 5005 file (toctoc+P0)
    # so even its pressure-level TT classifies HYBRID_5005 (vctypes row
    # "2,True,True,...,5005"); grid 3 has no meta -> PRESSURE_2001
    assert ("HU", "ETA_1002") in got
    assert ("UU", "HYBRID_5005") in got
    assert ("TT", "HYBRID_5005") in got
    assert ("TT", "PRESSURE_2001") in got
    # meta rows are UNKNOWN
    assert all(v == "UNKNOWN" for n, v in got if n in META_NOMVARS)


def test_group_invariants_count_null_as_distinct(spark):
    """round-15 dedup.py review: a group holding {1, NULL} IS an
    invariant violation — pandas' unique() includes NaN, so the
    reference raises; bare countDistinct skipped the NULL and read the
    group as invariant. All-NULL stays 1 distinct (unique() == [NaN])."""
    from fstd2pandas_spark.operators.dedup import group_invariant_violations

    df = spark.createDataFrame(
        [("A", 1), ("A", None),        # {1, NULL} -> violation (2)
         ("B", 2), ("B", 2),           # constant -> fine
         ("C", None), ("C", None)],    # all-NULL -> fine (1)
        "g string, x int")
    out = {(r["g"], r["col"]): r["n_distinct"]
           for r in group_invariant_violations(df, ["g"], ["x"]).collect()}
    assert out == {("A", "x"): 2}


def test_null_nomvar_survives_every_meta_data_split(spark, records):
    """round-15 sweep of the ~isin(META_NOMVARS) class: a NULL nomvar
    is a DATA row everywhere (pandas' ~isin keeps NaN), so it must
    survive metadata_cleanup, set_vertical_coordinate_type, and to_cube
    instead of vanishing from both halves of the split."""
    from fstd2pandas_spark.operators.cube import to_cube

    nulled = records.withColumn(
        "nomvar",
        F.when(F.col("nomvar") == "TT", F.lit(None)).otherwise(
            F.col("nomvar")))
    n_null = nulled.filter(F.col("nomvar").isNull()).count()
    assert n_null > 0

    cleaned = metadata_cleanup(nulled)
    assert cleaned.filter(F.col("nomvar").isNull()).count() == n_null

    vc = set_vertical_coordinate_type(nulled)
    assert vc.filter(F.col("nomvar").isNull()).count() == n_null

    cubes = to_cube(nulled)
    assert cubes.filter(F.col("nomvar").isNull()).count() > 0


def test_fststat_values(spark, records):
    row = fststat(records.filter((F.col("nomvar") == "FB"))).collect()[0]
    assert row.min == pytest.approx(3.25)
    assert row.max == pytest.approx(3.25)
    assert row.mean == pytest.approx(3.25)
    assert row.std == pytest.approx(0.0)
    assert row.min_pos.i == 1 and row.min_pos.j == 1

    tt = records.filter((F.col("nomvar") == "TT")).limit(1)
    d = tt.collect()[0].d
    ni = tt.collect()[0].ni
    st = fststat(tt).collect()[0]
    assert st.min == pytest.approx(min(d), rel=1e-6)
    assert st.max == pytest.approx(max(d), rel=1e-6)
    mean = sum(d) / len(d)
    assert st.mean == pytest.approx(mean, rel=1e-6)
    var = sum((x - mean) ** 2 for x in d) / len(d)
    assert st.std == pytest.approx(math.sqrt(var), rel=1e-5)
    pmin = d.index(min(d))
    assert (st.min_pos.i, st.min_pos.j) == (pmin % ni + 1, pmin // ni + 1)


def test_fststat_nan_and_tie_parity_with_numpy(spark):
    """round-15 stats.py review, pinned against numpy itself: min/max/
    argmin/argmax match np.min / np.argmin over the reference's
    (ni, nj) array EXACTLY —

    - NaN poisons min/max (np.min propagates it; Spark's array_min
      used to skip it as 'greater than every double'),
    - argmin/argmax point at the first NaN when one exists,
    - ties resolve to the smallest (i, j) (np.argmin's C-order flatten
      of the (ni, nj) array); array_position's first-in-flat-storage
      pick was smallest (j, i) — a transposed tie diverged.
    """
    import numpy as np

    from fstd2pandas_spark.operators.stats import array_stats_columns

    cases = [
        ([1.0, float("nan"), 0.5, 2.0], 2),       # NaN at (2, 1)
        ([3.0, 1.0, 2.0, 1.0], 2),                # dup min, same i
        ([5.0, 1.0, 1.0, 9.0, 9.0, 2.0], 2),      # transposed min AND
        ([float("nan"), float("nan")], 2),        #   max ties
        ([4.0], 1),
    ]
    df = spark.createDataFrame(cases, "d array<float>, ni int")
    out = df.select("d", "ni",
                    *array_stats_columns(F.col("d"), F.col("ni"))).collect()
    for r in out:
        a = np.reshape(np.array(r["d"], dtype=np.float32),
                       (r["ni"], len(r["d"]) // r["ni"]), order="F")
        mi = np.unravel_index(np.argmin(a), a.shape)
        mx = np.unravel_index(np.argmax(a), a.shape)
        for got, exp in ((r["min"], np.min(a)), (r["max"], np.max(a))):
            assert (math.isnan(got) and np.isnan(exp)) \
                or got == pytest.approx(float(exp)), r["d"]
        assert (r["min_pos"]["i"], r["min_pos"]["j"]) \
            == (mi[0] + 1, mi[1] + 1), r["d"]
        assert (r["max_pos"]["i"], r["max_pos"]["j"]) \
            == (mx[0] + 1, mx[1] + 1), r["d"]


def test_fststat_positions_bind_extremes_once_64x48(spark):
    """min_pos/max_pos on full-size 64x48 fields with many ties (values
    drawn from 0..49) and with NaNs, against numpy's argmin/argmax over
    the (ni, nj) array; and the plan binds each extreme once per record:
    no array_min(d)/array_max(d) inside the keyed per-element lambda,
    where it made the position search O(n^2) a record."""
    import re

    import numpy as np

    from fstd2pandas_spark.operators.stats import array_stats_columns

    ni, nj = 64, 48
    rng = np.random.default_rng(5)
    ties = rng.integers(0, 50, ni * nj).astype(np.float32)
    nans = ties.copy()
    nans[[1500, 77]] = np.nan                  # first NaN in (i, j) order
    flat = np.full(ni * nj, 2.5, np.float32)   # all tie: (1, 1)
    df = spark.createDataFrame(
        [(a.tolist(), ni) for a in (ties, nans, flat, -ties)],
        "d array<float>, ni int")
    q = df.select("d", "ni", *array_stats_columns("d", "ni"))
    for r in q.collect():
        a = np.reshape(np.array(r["d"], np.float32), (ni, nj), order="F")
        for name, arg in (("min_pos", np.argmin), ("max_pos", np.argmax)):
            i, j = np.unravel_index(arg(a), a.shape)
            assert (r[name]["i"], r[name]["j"]) == (i + 1, j + 1), name
        assert (math.isnan(r["min"]) and np.isnan(a).any()) \
            or r["min"] == float(np.min(a))

    plan = q._jdf.queryExecution().optimizedPlan().toString()
    keyed = []
    for m in re.finditer(r"transform\(d#\d+, lambdafunction\(", plan):
        depth, k = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        if "lambda p0" in plan[m.end():k]:
            keyed.append(plan[m.end():k])
    assert len(keyed) == 2, plan
    for body in keyed:
        assert not re.search(r"array_(min|max)\(d#", body), body


def test_voir_sorted(records):
    rows = voir(records).collect()
    assert rows == sorted(rows, key=lambda r: (r.nomvar, -r.level))


def test_drop_duplicates(records):
    hu = records.filter(F.col("nomvar") == "HU")
    assert hu.count() == 4          # 3 levels + 1 dup
    assert drop_duplicates(hu).count() == 3


def test_kinds_and_ip1(records):
    out = {r.kind: r.ip1s for r in kinds_and_ip1(
        records.filter(~F.col("nomvar").isin(META_NOMVARS))).collect()}
    assert 2 in out and 5 in out and 1 in out


def test_unit_convert_roundtrip(spark, records):
    tt = records.filter(F.col("nomvar") == "TT")
    orig = tt.orderBy("key").collect()
    as_k = unit_convert(tt, "kelvin")
    k_rows = as_k.orderBy("key").collect()
    for o, k in zip(orig, k_rows):
        assert k.d[0] == pytest.approx(o.d[0] + 273.15, rel=1e-5)
        # the 'U' (unit converted) typvar flag is set on converted rows
        assert (o.typvar, k.typvar) == ("P", "PU")
    back = unit_convert(as_k.withColumn("unit", F.lit("kelvin")), "celsius")
    for o, b in zip(orig, back.orderBy("key").collect()):
        assert b.d[0] == pytest.approx(o.d[0], abs=1e-3)


def test_unit_convert_knot(spark):
    from tests.fixtures import build_fst_records
    recs = build_fst_records(spark)
    uu = recs.filter(F.col("nomvar") == "UU")   # knots in stdvar
    out = unit_convert(uu, "meter_per_second").collect()
    src = {r.key: r for r in uu.collect()}
    for r in out:
        assert r.d[0] == pytest.approx(src[r.key].d[0] * 0.514444444, rel=1e-5)


def test_mask_apply_recover_roundtrip(records):
    masked = apply_mask(records)
    gz = masked.filter((F.col("nomvar") == "GZ")).collect()
    assert len(gz) == 1                          # mask row consumed
    assert any(v is None for v in gz[0].d)       # masked elements are NULL
    rec = recover_mask(masked)
    gz2 = rec.filter(F.col("nomvar") == "GZ").collect()
    assert len(gz2) == 2                         # var + mask again
    mask_row = [r for r in gz2 if r.typvar == "@@"][0]
    orig_mask = [r for r in records.filter(
        (F.col("nomvar") == "GZ") & (F.col("typvar") == "@@")).collect()][0]
    assert mask_row.d == orig_mask.d
    assert mask_row.datyp == 2 and mask_row.nbits == 1


def test_mask_group_guards_polarity_and_passthrough(spark):
    """round-15 mask.py review, pinned:

    1. apply_mask RAISES on a malformed pairing group (the reference's
       'There should only be 2 rows per group!', apply_mask.py:63) —
       the bare inner join silently DROPPED an unpaired variable and
       silently FANNED OUT a duplicated mask.
    2. keep polarity matches astype(bool): a NONZERO mask element
       keeps under keep_value=1 (the old == 1.0 comparison dropped a
       value under a mask element of 2.0).
    3. recover_mask passes an already-paired (var, mask) group through
       UNCHANGED (recover_mask.py:61-64) — the old code dropped the
       real mask row and synthesized an all-keep replacement — and
       raises on a >2-row group.
    4. NULL nomvar/typvar rows survive the splits (data/not_masked).
    """
    from fstd2pandas_spark.operators.mask import (
        MASK_GROUP_COLS, apply_mask, recover_mask)

    cols = MASK_GROUP_COLS + ["typvar", "datyp", "nbits", "datev", "d"]

    def rec(nomvar, typvar, d, ip1=500):
        base = {c: 0 for c in cols}
        base.update(nomvar=nomvar, typvar=typvar, d=d, ip1=ip1,
                    etiket="E", grtyp="Z", grid="11", path="f", key=1)
        # string columns need string zeros
        for c in ("etiket", "grtyp", "grid", "path", "nomvar", "typvar"):
            if base[c] == 0:
                base[c] = "x"
        return tuple(base[c] for c in cols)

    schema = ", ".join(
        f"`{c}` " + ("string" if c in ("nomvar", "typvar", "etiket",
                                       "grtyp", "grid", "path")
                     else "array<float>" if c == "d" else "long")
        for c in cols)

    # 2: nonzero (2.0) and NaN mask elements KEEP under keep_value=1
    ok = spark.createDataFrame(
        [rec("TT", "P@", [1.0, 2.0, 3.0, 4.0]),
         rec("TT", "@@", [1.0, 2.0, float("nan"), 0.0])], schema)
    out = apply_mask(ok).filter(F.col("typvar") == "P@").collect()
    assert [v for v in out[0]["d"]] == pytest.approx([1.0, 2.0, 3.0, None])

    # 1: unpaired variable raises instead of vanishing
    lone = spark.createDataFrame([rec("TT", "P@", [1.0])], schema)
    with pytest.raises(Exception, match="2 rows per group"):
        apply_mask(lone).collect()
    # ... and a duplicated mask raises instead of fanning out
    dup = spark.createDataFrame(
        [rec("TT", "P@", [1.0]), rec("TT", "@@", [1.0]),
         rec("TT", "@@", [0.0])], schema)
    with pytest.raises(Exception, match="2 rows per group"):
        apply_mask(dup).collect()

    # 3: recover passes a paired group through byte-identical
    back = recover_mask(ok).orderBy("typvar").collect()
    src = ok.orderBy("typvar").collect()

    def _eq(a, b):
        if isinstance(a, list) and isinstance(b, list):
            return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
        if isinstance(a, float) and isinstance(b, float) \
                and math.isnan(a) and math.isnan(b):
            return True
        return a == b

    assert len(back) == len(src) == 2
    for x, y in zip(back, src):
        for name, a, b in zip(back[0].__fields__, tuple(x), tuple(y)):
            assert _eq(a, b), (name, a, b)
    with pytest.raises(Exception, match="at most 2"):
        recover_mask(dup).collect()

    # 4: NULL nomvar / NULL typvar rows pass through, never vanish
    nulls = spark.createDataFrame(
        [rec(None, "P", [9.0]), rec("TT", None, [8.0])], schema)
    survived = apply_mask(nulls).collect()
    assert len(survived) == 2
    assert len(recover_mask(nulls).collect()) == 2


def test_quick_pressure_sigma(records):
    px = quick_pressure(records)
    rows = px.filter(F.col("nomvar") == "PX").collect()
    assert rows, "no PX records emitted"
    p0 = records.filter((F.col("nomvar") == "P0") & (F.col("grid") == "3344")).collect()[0]
    pt = records.filter((F.col("nomvar") == "PT") & (F.col("grid") == "3344")).collect()[0]
    # eta 0.85 on grid 2 (P0+PT present): pres = 0.85*(P0-PT) + PT
    sig = [r for r in rows if r.grid == "3344" and abs(
        (r.ip1 - 2000) / 10000.0 - 0.85) < 1e-9]
    assert sig, "eta PX missing"
    for a, b, c in zip(sig[0].d, p0.d, pt.d):
        assert a == pytest.approx(0.85 * (b - c) + c, rel=1e-6)
    # grid 3 (PRESSURE_2001): constant fields = the level itself
    prs = [r for r in rows if r.grid == "5566"]
    assert prs, "pressure-level PX missing"
    for c in prs:
        assert len(set(c.d)) == 1
        assert c.d[0] == pytest.approx(float(c.ip1))
    # grid 1 hybrid-5005 via toctoc: A=ln(eta*pref), B=1 -> pres = eta*P0
    p0g1 = records.filter((F.col("nomvar") == "P0") & (F.col("grid") == "1122")).orderBy("key").collect()[0]
    hyb = [r for r in rows if r.grid == "1122"]
    assert hyb, "hybrid-5005 PX missing"
    from fstd2pandas_spark.functions.codecs import decode_ip_py
    for r in hyb:
        eta, kind = decode_ip_py(r.ip1)
        assert kind == 5
        for a, b in zip(r.d, p0g1.d):
            assert a == pytest.approx(eta * b, rel=1e-4)


def test_quick_pressure_standard_atmosphere(records):
    pxsa = quick_pressure(records, standard_atmosphere=True)
    rows = pxsa.filter(F.col("nomvar") == "PXSA").collect()
    assert rows
    sig = [r for r in rows if r.grid == "3344"]
    assert sig
    pt = [r for r in pxsa.filter(F.col("nomvar") == "PT").collect()
          if r.grid == "3344"][0]
    lvl = (sig[0].ip1 - 2000) / 10000.0
    # eta SA: ptop*(1-lvl) + lvl*1013.25
    assert sig[0].d[0] == pytest.approx(pt.d[0] * (1 - lvl) + 1013.25 * lvl, rel=1e-6)


def test_empty_record_table(spark):
    from fstd2pandas_spark.schema import empty_record_table, RECORD_SCHEMA

    df = empty_record_table(spark, 3, nomvar="TT", ni=4)
    rows = df.collect()
    assert len(rows) == 3
    assert all(r.nomvar == "TT" and r.ni == 4 and r.typvar == "P"
               and r.datyp == 133 and r.grtyp == "G" for r in rows)
    assert df.columns == [f.name for f in RECORD_SCHEMA.fields
                          if f.name not in ("path", "key")]


def test_toctoc_from_vgrid(spark):
    from fstd2pandas_spark.operators.vgrid import toctoc_from_vgrid

    vtbl = [[5002.0, 0.0, 0.0], [1.0, 0.1, 800.0], [2.0, 0.2, 900.0]]
    df = toctoc_from_vgrid(spark, kind=5, version=2, vtbl=vtbl,
                           ip1=11, ip2=22)
    r = df.collect()[0]
    assert r.nomvar == "!!" and r.typvar == "X"
    assert r.ig1 == 5002
    assert (r.ni, r.nj) == (3, 3)
    assert r.grid == "1122"
    assert r.d[:3] == [5002.0, 0.0, 0.0]
    assert len(r.d) == 9


def test_toctoc_from_vgrid_roundtrip_quick_pressure(spark):
    """G9 -> G6 with nlevels != 3: one (ip1, A, B) triple per level must
    survive the flat (j-1)*ni+i layout quick_pressure reads back — the
    old ni=len(vtbl) convention transposed any non-square table."""
    import math
    from fstd2pandas_spark.functions.codecs import decode_ip_py, encode_ip_py
    from fstd2pandas_spark.operators.vgrid import toctoc_from_vgrid
    from fstd2pandas_spark.schema import empty_record_table

    pref = 100000.0
    etas = [0.3, 0.7, 1.0]
    # A = ln(eta*pref), B = 1 -> pres = eta * P0 (easy oracle); row 2's A
    # doubles as pref (pressure.py:169)
    vtbl = [(1.0, 0.0, 0.0), (2.0, pref, 0.0)] + [
        (float(encode_ip_py(e, 5)), math.log(e * pref), 1.0) for e in etas]
    assert len(vtbl) == 5  # nlevels != 3: transposes under the old layout
    tt = toctoc_from_vgrid(spark, kind=5, version=5, vtbl=vtbl, ip1=11, ip2=22)
    r = tt.collect()[0]
    assert (r.ni, r.nj) == (3, 5) and r.ig1 == 5005

    p0_vals = [1000.0, 1010.0, 990.0, 1005.0]
    grid = dict(ni=2, nj=2, grtyp="Z", ig1=11, ig2=22)
    p0 = (empty_record_table(spark, 1, nomvar="P0", typvar="P", **grid)
          .withColumn("grid", F.lit("1122"))
          .withColumn("d", F.lit(p0_vals).cast("array<float>")))
    uu = None
    for e in etas:
        row = (empty_record_table(spark, 1, nomvar="UU", typvar="P",
                                  ip1=encode_ip_py(e, 5), **grid)
               .withColumn("grid", F.lit("1122"))
               .withColumn("d", F.lit([5.0, 6.0, 7.0, 8.0]).cast("array<float>")))
        uu = row if uu is None else uu.unionByName(row)
    recs = (
        tt.unionByName(p0.select(tt.columns))
        .unionByName(uu.select(tt.columns))
        .withColumn("key", F.lit(None).cast("long"))
    )
    px = quick_pressure(recs).filter(F.col("nomvar") == "PX").collect()
    assert len(px) == len(etas)
    for r in px:
        eta, kind = decode_ip_py(r.ip1)
        assert kind == 5
        for a, b in zip(r.d, p0_vals):
            assert a == pytest.approx(eta * b, rel=1e-4)


def test_stations_lookup_timezone_join(spark):
    """J9 + C14: broadcast station lookup feeding a timezone shift."""
    from pyspark.sql import functions as F
    from fstd2pandas_spark.lookups import stations_df

    st = stations_df()
    assert st.count() >= 10
    obs = spark.createDataFrame(
        [("CYUL", "2020-07-14 12:00:00"), ("CYVR", "2020-07-14 12:00:00")],
        ["alpha_id", "ts_utc"],
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    joined = obs.join(F.broadcast(st), "alpha_id")
    rows = {r.alpha_id: r for r in joined.collect()}
    assert rows["CYUL"].timezone == "America/Montreal"
    assert rows["CYVR"].timezone == "America/Vancouver"
    # C14 shift via the joined zone column
    shifted = joined.withColumn(
        "ts_local", F.from_utc_timestamp(F.col("ts_utc"), F.col("timezone"))
    ).collect()
    by_id = {r.alpha_id: r for r in shifted}
    assert by_id["CYUL"].ts_local.hour == 8   # UTC-4 in July
    assert by_id["CYVR"].ts_local.hour == 5   # UTC-7 in July


def test_vctype_and_cleanup_plan_shape(records):
    """Scale guards: classification joins broadcast (lookup + per-grid
    flags are tiny at any scale), cleanup never goes cartesian, and the
    full-shuffle count stays bounded (grid-distinct frames, not data)."""
    from fstd2pandas_spark.operators.vgrid import set_vertical_coordinate_type
    from fstd2pandas_spark.operators.metadata import metadata_cleanup
    from fstd2pandas_spark.plans.checks import (
        assert_broadcast_join, assert_no_cartesian, count_exchanges,
    )

    classified = set_vertical_coordinate_type(records)
    assert_broadcast_join(classified, 2)
    assert_no_cartesian(classified)

    assert count_exchanges(classified) <= 2

    cleaned = metadata_cleanup(records)
    assert_no_cartesian(cleaned)
    # every exchange below the survival joins carries a distinct-group
    # frame (tiny at any scale), never the data rows; the static plan
    # repeats the shared profile subtree per consumer (~4 consumers x
    # ~5 nodes), so cap the count rather than pin it
    assert count_exchanges(cleaned) <= 25


def _ev_rows(*rows):
    """(event_id, ts_str, user_id, event_type) tuples -> DataFrame rows."""
    import datetime as dt
    return [(i, dt.datetime.fromisoformat(t), u, k, 1.0, None)
            for (i, t, u, k) in rows]


_EV_SCHEMA = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def test_funnel_steps_ordering(spark):
    """Step i+1 must occur strictly after step i in (ts, event_id)
    order: an early click does not count, a later one does."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(_ev_rows(
        (1, "2024-01-01T10:00", 1, "view"),
        (2, "2024-01-01T10:05", 1, "click"),
        (3, "2024-01-01T10:10", 1, "purchase"),
        (4, "2024-01-01T09:00", 2, "click"),     # before the view
        (5, "2024-01-01T09:30", 2, "view"),
        (6, "2024-01-01T08:00", 3, "view"),
        (7, "2024-01-01T08:00", 4, "purchase"),  # never does step 1
    ), _EV_SCHEMA)
    out = {r.user: (r.depth, r.step_ts_us) for r in
           funnel_steps(df, ["view", "click", "purchase"]).collect()}
    assert out[1][0] == 3 and len(out[1][1]) == 3
    assert out[2][0] == 1          # the early click never counts
    assert out[3][0] == 1
    assert out[4][0] == 0 and out[4][1] == []


def test_funnel_tie_resolved_by_event_id(spark):
    """Same-timestamp events advance in event_id order."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(_ev_rows(
        (10, "2024-01-01T10:00", 1, "view"),
        (11, "2024-01-01T10:00", 1, "click"),    # same ts, later id: counts
        (20, "2024-01-01T10:00", 2, "click"),    # same ts, EARLIER id
        (21, "2024-01-01T10:00", 2, "view"),
    ), _EV_SCHEMA)
    out = {r.user: r.depth for r in
           funnel_steps(df, ["view", "click"]).collect()}
    assert out[1] == 2 and out[2] == 1


def test_funnel_within_horizon(spark):
    from fstd2pandas_spark.operators.funnel import funnel_counts, funnel_steps

    df = spark.createDataFrame(_ev_rows(
        (1, "2024-01-01T10:00", 1, "view"),
        (2, "2024-01-01T10:30", 1, "click"),     # 1800 s after view
        (3, "2024-01-01T10:00", 2, "view"),
        (4, "2024-01-01T12:00", 2, "click"),     # 7200 s after view
    ), _EV_SCHEMA)
    out = {r.user: r.depth for r in
           funnel_steps(df, ["view", "click"], within=3600).collect()}
    assert out[1] == 2 and out[2] == 1
    counts = {r.step_idx: r.n_users for r in
              funnel_counts(df, ["view", "click"], within=3600).collect()}
    assert counts == {1: 2, 2: 1}


def test_funnel_within_ansi_mode(spark):
    """The within-horizon fold must not index an empty accumulator:
    both operands of | are evaluated, so an unguarded element_at(acc, 1)
    throws INVALID_ARRAY_INDEX under spark.sql.ansi.enabled=true (the
    CASE guard evaluates only the matched branch)."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(_ev_rows(
        (1, "2024-01-01T10:00", 1, "view"),
        (2, "2024-01-01T10:30", 1, "click"),
        (3, "2024-01-01T09:00", 2, "click"),     # never matches step 1
    ), _EV_SCHEMA)
    # restore the PRIOR value, not a hardcoded 'false': leaving the
    # session non-ANSI silently changed the semantics of every test
    # that ran after this one (round-15 find — the only order-dependent
    # failure in the suite)
    ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = {r.user: r.depth for r in
               funnel_steps(df, ["view", "click"], within=3600).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi0)
    assert out == {1: 2, 2: 0}


def test_funnel_ignores_non_step_event_types(spark):
    """Non-step-typed (and NULL-typed) events never advance the fold, so
    the r18 narrowing drops them from the collected array entirely —
    interleaving them anywhere (including between a tie pair) must not
    change any user's depth or step timestamps."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    base = [
        (1, "2024-01-01T10:00", 1, "view"),
        (2, "2024-01-01T10:05", 1, "click"),
        (3, "2024-01-01T10:10", 1, "purchase"),
        (10, "2024-01-01T10:00", 2, "view"),
        (11, "2024-01-01T10:00", 2, "click"),    # ts tie with the view
    ]
    noise = [
        (100, "2024-01-01T09:59", 1, "signup"),
        (101, "2024-01-01T10:05", 1, "other"),   # ts tie with the click
        (102, "2024-01-01T10:00", 2, "signup"),  # inside the tie pair
        (103, "2024-01-01T23:00", 2, None),      # NULL type
    ]
    steps = ["view", "click", "purchase"]
    clean = {r.user: (r.depth, tuple(r.step_ts_us)) for r in funnel_steps(
        spark.createDataFrame(_ev_rows(*base), _EV_SCHEMA), steps).collect()}
    noisy = {r.user: (r.depth, tuple(r.step_ts_us)) for r in funnel_steps(
        spark.createDataFrame(_ev_rows(*base, *noise), _EV_SCHEMA),
        steps).collect()}
    assert clean == noisy
    assert clean[1][0] == 3 and clean[2][0] == 2


def test_funnel_duplicate_step_names(spark):
    """Duplicate step names are legal API input and use the name-compare
    fallback (array_position would map every duplicate to its first
    index): view -> click -> view completes on a SECOND view strictly
    after the click."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(_ev_rows(
        (1, "2024-01-01T10:00", 1, "view"),
        (2, "2024-01-01T10:05", 1, "click"),
        (3, "2024-01-01T10:10", 1, "view"),      # completes step 3
        (4, "2024-01-01T10:00", 2, "view"),
        (5, "2024-01-01T10:05", 2, "click"),     # no second view
    ), _EV_SCHEMA)
    out = {r.user: r.depth for r in
           funnel_steps(df, ["view", "click", "view"]).collect()}
    assert out == {1: 3, 2: 2}


def test_user_activity_report_matches_separate_ops(spark, sf_dir):
    """The fused one-shuffle report must agree with funnel_steps AND
    retention_cohorts computed separately."""
    from fstd2pandas_spark.operators.funnel import (
        cohorts_from_report, funnel_steps, retention_cohorts,
        user_activity_report,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    steps = ["view", "click", "purchase"]
    rep = user_activity_report(ev, steps)
    got_f = {r.user: (r.depth, tuple(r.step_ts_us))
             for r in rep.collect()}
    exp_f = {r.user: (r.depth, tuple(r.step_ts_us))
             for r in funnel_steps(ev, steps).collect()}
    assert got_f == exp_f
    got_c = {(r.cohort, r.period_offset): r.n_users
             for r in cohorts_from_report(rep).collect()}
    exp_c = {(r.cohort, r.period_offset): r.n_users
             for r in retention_cohorts(ev).collect()}
    assert got_c == exp_c and got_c


def test_funnel_counts_monotone(spark, sf_dir):
    """On the real events table the funnel is monotone non-increasing
    and bounded by the distinct-user count."""
    from fstd2pandas_spark.operators.funnel import funnel_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = {r.step_idx: r.n_users for r in funnel_counts(
        ev, ["view", "click", "purchase"]).collect()}
    n_users = ev.select("user_id").distinct().count()
    assert rows[1] <= n_users and rows[1] >= rows[2] >= rows[3] >= 0
    assert rows[1] > 0


def test_retention_cohorts(spark, sf_dir):
    """Offset-0 of every cohort counts the whole cohort; total offset-0
    users equals distinct users; offsets are non-negative."""
    from fstd2pandas_spark.operators.funnel import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rc = retention_cohorts(ev).collect()
    assert all(r.period_offset >= 0 for r in rc)
    zero = sum(r.n_users for r in rc if r.period_offset == 0)
    assert zero == ev.select("user_id").distinct().count()
    # retention at offset k never exceeds the cohort size
    size = {r.cohort: r.n_users for r in rc if r.period_offset == 0}
    assert all(r.n_users <= size[r.cohort] for r in rc)

    import datetime as dt
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view", 1.0, None),   # Mon w0
         (2, dt.datetime(2024, 1, 9), 1, "view", 1.0, None),   # w1
         (3, dt.datetime(2024, 1, 16), 1, "view", 1.0, None),  # w2
         (4, dt.datetime(2024, 1, 10), 2, "view", 1.0, None)],  # w1 cohort
        _EV_SCHEMA)
    got = {(str(r.cohort.date()), r.period_offset): r.n_users
           for r in retention_cohorts(df).collect()}
    assert got == {("2024-01-01", 0): 1, ("2024-01-01", 1): 1,
                   ("2024-01-01", 2): 1, ("2024-01-08", 0): 1}


def test_asof_join_known_values(spark):
    """Hand-computed backward/forward/tolerance as-of matches."""
    from fstd2pandas_spark.operators.temporal import asof_join

    L = spark.createDataFrame(
        [(1, "2024-01-01T10:00:00", 100),
         (1, "2024-01-01T12:00:00", 101),
         (2, "2024-01-01T10:30:00", 102),
         (3, "2024-01-01T09:00:00", 103)],   # key with no right rows
        ["user_id", "ts", "lid"]).withColumn("ts", F.col("ts").cast("timestamp"))
    R = spark.createDataFrame(
        [(1, "2024-01-01T09:30:00", 7),
         (1, "2024-01-01T11:00:00", 8),
         (2, "2024-01-01T10:30:00", 9)],     # exact-equal timestamp
        ["user_id", "ts", "rid"]).withColumn("ts", F.col("ts").cast("timestamp"))

    back = {r["lid"]: r["asof_rid"] for r in
            asof_join(L, R, right_cols=["rid"]).collect()}
    assert back == {100: 7, 101: 8, 102: 9, 103: None}

    fwd = {r["lid"]: r["asof_rid"] for r in
           asof_join(L, R, direction="forward",
                     right_cols=["rid"]).collect()}
    assert fwd == {100: 8, 101: None, 102: 9, 103: None}

    tol = {r["lid"]: r["asof_rid"] for r in
           asof_join(L, R, tolerance=1800, right_cols=["rid"]).collect()}
    assert tol == {100: 7, 101: None, 102: 9, 103: None}  # 101: gap 1 h


def test_asof_join_tie_resolution_deterministic(spark):
    """Several right rows on the SAME key and timestamp must resolve
    to the MAXIMAL right payload (right_cols tuple order) regardless
    of partition arrival order — the payload struct rides the window
    ordering, so no carried row depends on how the shuffle lands."""
    from fstd2pandas_spark.operators.temporal import asof_join

    L = spark.createDataFrame(
        [(1, "2024-01-01T12:00:00", 100)], ["user_id", "ts", "lid"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tied = [(1, "2024-01-01T10:00:00", rid) for rid in (5, 9, 2, 7)]
    for order in (tied, tied[::-1], tied[2:] + tied[:2]):
        R = spark.createDataFrame(
            order, ["user_id", "ts", "rid"]
        ).withColumn("ts", F.col("ts").cast("timestamp")).repartition(7)
        back = asof_join(L, R, right_cols=["rid"]).collect()
        assert [r["asof_rid"] for r in back] == [9], order
        fwd = asof_join(L.withColumn("ts", F.expr(
            "ts - INTERVAL 4 HOURS")), R, direction="forward",
            right_cols=["rid"]).collect()
        assert [r["asof_rid"] for r in fwd] == [9], order


def test_asof_join_single_exchange_no_join(spark):
    """The at-scale property: one key exchange, no join operator."""
    from fstd2pandas_spark.operators.temporal import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    L = ev.filter(F.col("event_type") == "purchase")
    R = ev.filter(F.col("event_type") == "view") \
          .select("user_id", "ts", F.col("event_id").alias("view_id"))
    plan = asof_join(L, R, right_cols=["view_id"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_range_join_known_values_and_guard(spark):
    """Hand-computed point-in-interval matches; boundary inclusivity;
    the hostile-interval guard raises."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.temporal import range_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01T10:00:00", 0),
         (1, "2024-01-01T11:30:00", 1),
         (1, "2024-01-01T13:00:00", 2),
         (2, "2024-01-01T10:00:00", 3)],
        ["user_id", "ts", "pid"]).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01T10:00:00", "2024-01-01T11:30:00", "a"),
         (1, "2024-01-01T12:59:00", "2024-01-01T14:00:00", "b"),
         (2, "2024-01-01T11:00:00", "2024-01-01T12:00:00", "c")],
        ["uid", "start", "end", "label"]) \
        .withColumn("start", F.col("start").cast("timestamp")) \
        .withColumn("end", F.col("end").cast("timestamp"))
    got = {(r["pid"], r["label"]) for r in range_join(
        pts.withColumnRenamed("user_id", "uid"), iv,
        by="uid", bin_width=3600).collect()}
    # pid0 at start boundary of a; pid1 at END boundary of a (inclusive);
    # pid2 inside b; pid3 before c -> no match
    assert got == {(0, "a"), (1, "a"), (2, "b")}

    hostile = spark.createDataFrame(
        [(1, "2024-01-01T00:00:00", "2030-01-01T00:00:00", "x")],
        ["uid", "start", "end", "label"]) \
        .withColumn("start", F.col("start").cast("timestamp")) \
        .withColumn("end", F.col("end").cast("timestamp"))
    with _pytest.raises(Exception, match="bins"):
        range_join(pts.withColumnRenamed("user_id", "uid"), hostile,
                   by="uid", bin_width=60).collect()

    # inverted (end < start) and NULL-bounded intervals match NOTHING —
    # without the lower-bound gate Spark's sequence() steps -1 and a
    # swapped-column interval explodes into millions of descending bins
    broken = spark.createDataFrame(
        [(1, "2024-01-01T12:00:00", "2024-01-01T10:00:00", "inv"),
         (1, None, "2024-01-01T10:00:00", "null_s")],
        ["uid", "start", "end", "label"]) \
        .withColumn("start", F.col("start").cast("timestamp")) \
        .withColumn("end", F.col("end").cast("timestamp"))
    assert range_join(pts.withColumnRenamed("user_id", "uid"), broken,
                      by="uid", bin_width=60).count() == 0


def test_range_join_is_equi_join_not_nested_loop(spark):
    """Without the bins Spark plans point-in-interval as
    BroadcastNestedLoopJoin; the operator must produce an equi-join."""
    from fstd2pandas_spark.operators.temporal import range_join
    from fstd2pandas_spark.operators.sessions import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    iv = sessionize(ev).select(
        F.col("user_id").alias("uid"),
        F.col("session_start").alias("start"),
        F.col("session_end").alias("end"))
    pts = ev.filter(F.col("event_type") == "error") \
            .withColumnRenamed("user_id", "uid")
    plan = range_join(pts, iv, by="uid") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_countmin_sketch_properties(spark):
    """Count-Min: estimates are exact without collisions, overcount
    (never undercount) with them, and merged sketches equal the sketch
    of the union — all deterministic integer arithmetic."""
    import hashlib

    from fstd2pandas_spark.operators.sketch import (
        countmin_counters, countmin_estimate, merge_counters)

    rows = [(f"k{i % 7}",) for i in range(70)]   # 7 keys x 10 each
    df = spark.createDataFrame(rows, ["k"])
    keys = df.distinct()

    # wide sketch: no collisions possible to matter -> exact
    c_wide = countmin_counters(df, "k", width=1024, depth=3)
    est = {r["k"]: r["cms_est"] for r in countmin_estimate(
        c_wide, keys, "k", width=1024, depth=3).collect()}
    assert est == {f"k{i}": 10 for i in range(7)}

    # narrow sketch: overcount-only
    c_narrow = countmin_counters(df, "k", width=2, depth=2)
    est2 = {r["k"]: r["cms_est"] for r in countmin_estimate(
        c_narrow, keys, "k", width=2, depth=2).collect()}
    assert all(v >= 10 for v in est2.values())
    assert any(v > 10 for v in est2.values())    # collisions DID occur

    # determinism vs a hand computation of one cell
    def bucket(v, d, width):
        return int(hashlib.md5(f"cms{d}_{v}".encode())
                   .hexdigest()[:8], 16) % width
    cell = {(r["d"], r["bucket"]): r["c"] for r in c_narrow.collect()}
    exp = {}
    for i in range(7):
        for d in range(2):
            key = (d, bucket(f"k{i}", d, 2))
            exp[key] = exp.get(key, 0) + 10
    assert cell == exp

    # mergeability: sketch(a) + sketch(b) == sketch(a union b)
    a, b = df.limit(30), spark.createDataFrame(rows[30:], ["k"])
    merged = {(r["d"], r["bucket"]): r["c"] for r in merge_counters(
        countmin_counters(a, "k", width=2, depth=2),
        countmin_counters(b, "k", width=2, depth=2)).collect()}
    assert merged == cell


def test_countmin_null_keys_and_param_mismatch(spark):
    """NULL keys are excluded on build AND estimate (routing them
    through NULL cells would undercount to 0), and estimating with
    mismatched (width, depth) fails loudly instead of silently
    returning 0 for every key."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.sketch import (
        countmin_counters, countmin_estimate)

    df = spark.createDataFrame([("a",), ("a",), (None,), (None,)],
                               ["k"])
    cnt = countmin_counters(df, "k", width=16, depth=2)
    assert all(r["bucket"] is not None for r in cnt.collect())
    est = {r["k"]: r["cms_est"] for r in countmin_estimate(
        cnt, df.distinct(), "k", width=16, depth=2).collect()}
    assert est == {"a": 2}  # NULL key row dropped, not estimated as 0
    with _pytest.raises(ValueError, match="width=16"):
        countmin_estimate(cnt, df, "k", width=4, depth=2)


def test_countmin_mixed_parameterization_merge_rejected(spark):
    """merge_counters of mismatched sketches leaves disjoint
    (width, depth) groups in one frame; estimating over it must raise
    for EITHER parameter pair — min-over-depth mixing cells from two
    parameterizations undercounts, violating the overcount-only
    contract (a single-row param peek could pass by arrival order)."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.sketch import (
        countmin_counters, countmin_estimate, merge_counters)

    df = spark.createDataFrame([("a",), ("b",), ("a",)], ["k"])
    mixed = merge_counters(countmin_counters(df, "k", width=16, depth=2),
                           countmin_counters(df, "k", width=8, depth=3))
    for w_, d_ in ((16, 2), (8, 3)):
        with _pytest.raises(ValueError, match="parameterizations"):
            countmin_estimate(mixed, df.distinct(), "k",
                              width=w_, depth=d_)


def test_zorder_guards(spark):
    """bits >= 1 guard, existing-key_col protection, explicit
    num_partitions=0 rejection path."""
    import pytest as _pytest

    from fstd2pandas_spark.plans.zorder import (
        zorder_key, zorder_repartition)

    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "_zorder"])
    with _pytest.raises(ValueError, match="bits"):
        zorder_key(["a"], bits=0)
    with _pytest.raises(ValueError, match="already exists"):
        zorder_repartition(df, ["a", "b"])


def test_linear_count_sketch(spark):
    """Occupied-bucket counts: exact at tiny cardinality (no
    collisions), bounded by m, NULL keys excluded, per-group split,
    and the driver-side estimator recovers small cardinalities."""
    import hashlib

    from fstd2pandas_spark.operators.sketch import (
        linear_count_estimate, linear_count_occupied)

    rows = ([("g1", f"u{i}") for i in range(20) for _ in range(3)]
            + [("g2", "u0")] + [("g2", None)])
    df = spark.createDataFrame(rows, ["g", "u"])
    out = {r["g"]: (r["lc_occ"], r["lc_m"]) for r in
           linear_count_occupied(df, "u", ["g"], m=4096).collect()}

    def bucket(v, m):
        return int(hashlib.md5(f"lc_{v}".encode()).hexdigest()[:8],
                   16) % m
    assert out["g1"] == (len({bucket(f"u{i}", 4096)
                              for i in range(20)}), 4096)
    assert out["g2"] == (1, 4096)  # NULL excluded
    # estimator: 20 keys in 4096 buckets -> estimate within ~1 of 20
    est = linear_count_estimate(out["g1"][0], 4096)
    assert abs(est - 20) < 1.5
    assert linear_count_estimate(8, 8) == float("inf")

def test_hll_registers_hand_computed(spark):
    """HLL register rows equal a direct Python md5 re-derivation
    (reg = first 32 md5 bits mod m, rank = leading zeros of the next
    32 bits + 1, max per register), and merged register tables equal
    the table of the union via GREATEST."""
    import hashlib

    from fstd2pandas_spark.operators.sketch import hll_registers

    keys = [f"key{i}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    p, m = 6, 64
    got = {r["reg"]: r["max_rank"]
           for r in hll_registers(df, "k", p=p).collect()}

    exp = {}
    for k in keys:
        hx = hashlib.md5(f"hll_{k}".encode()).hexdigest()
        reg = int(hx[:8], 16) % m
        h2 = int(hx[8:16], 16)
        rank = 33 if h2 == 0 else 33 - len(bin(h2)[2:])
        exp[reg] = max(exp.get(reg, 0), rank)
    assert got == exp

    a = hll_registers(df.limit(80), "k", p=p)
    b = hll_registers(
        spark.createDataFrame([(k,) for k in keys[80:]], ["k"]), "k", p=p)
    merged = {r["reg"]: r["mr"] for r in
              a.unionByName(b).groupBy("reg")
              .agg(F.max("max_rank").alias("mr")).collect()}
    assert merged == exp


def test_hll_estimate_accuracy_and_guards(spark):
    """The driver-side estimate lands within the published ~1.04/sqrt(m)
    error band (x4 slack), the small-range linear-counting fallback
    fires for tiny cardinalities, and hostile register ids raise."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.sketch import (
        hll_estimate, hll_registers)

    n, p = 5000, 10
    df = spark.createDataFrame([(f"u{i}",) for i in range(n)], ["k"])
    regs = [(r["reg"], r["max_rank"])
            for r in hll_registers(df, "k", p=p).collect()]
    est = hll_estimate(regs, p)
    assert abs(est - n) / n < 4 * 1.04 / (1 << p) ** 0.5

    # small range: 3 distinct keys in 1024 registers -> exact-ish
    small = spark.createDataFrame([("a",), ("b",), ("c",), ("a",)], ["k"])
    sregs = [(r["reg"], r["max_rank"])
             for r in hll_registers(small, "k", p=p).collect()]
    assert round(hll_estimate(sregs, p)) == 3

    with _pytest.raises(ValueError, match="out of range"):
        hll_estimate([(1 << p, 5)], p)
    with _pytest.raises(ValueError, match="p must be"):
        hll_registers(df, "k", p=2)


@pytest.mark.parametrize("p,decades", [
    (10, (5_000, 50_000, 500_000)),
    (12, (15_000, 150_000, 1_500_000)),
])
def test_hll_error_band_large_p_three_decades(spark, p, decades):
    """Insurance that the p=6 gate isn't masking a rank-derivation bug
    only visible at scale: at p=10 and p=12 the estimate must sit
    inside the published 1.04/sqrt(m) standard error band (x3) across
    three cardinality decades. The register table is a deterministic
    function of md5, so this is a fixed-outcome check, not a flaky
    statistical one — a bucket-routing or leading-zero-rank slip moves
    the estimate far outside the band at every decade."""
    from fstd2pandas_spark.operators.sketch import (
        hll_estimate, hll_registers)

    se = 1.04 / (1 << p) ** 0.5
    for n in decades:
        df = spark.range(n).select(
            F.concat(F.lit("key_"), F.col("id")).alias("k"))
        regs = [(r["reg"], r["max_rank"])
                for r in hll_registers(df, "k", p=p).collect()]
        est = hll_estimate(regs, p)
        assert abs(est - n) / n < 3 * se, (p, n, est)


def test_countmin_heavy_hitters_no_false_negatives(spark):
    """Every true heavy hitter survives (CMS overcounts only — no
    false negatives by construction), even in a deliberately narrow
    sketch; the exact-count keys below threshold may false-positive
    but never the reverse."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.sketch import (
        countmin_counters, countmin_heavy_hitters)

    rows = ([("hot",)] * 50 + [("warm",)] * 20
            + [(f"cold{i}",) for i in range(30)])
    df = spark.createDataFrame(rows, ["k"])
    cnt = countmin_counters(df, "k", width=8, depth=2)
    hh = {r["k"] for r in countmin_heavy_hitters(
        cnt, df.distinct(), "k", width=8, depth=2,
        threshold=20).collect()}
    assert {"hot", "warm"} <= hh
    wide = countmin_counters(df, "k", width=1024, depth=3)
    hh_wide = {r["k"] for r in countmin_heavy_hitters(
        wide, df.distinct(), "k", width=1024, depth=3,
        threshold=20).collect()}
    assert hh_wide == {"hot", "warm"}
    with _pytest.raises(ValueError, match="threshold"):
        countmin_heavy_hitters(cnt, df, "k", 8, 2, 0)

def test_bloom_filter_membership(spark):
    """Bloom filter: set members are ALWAYS flagged (no false
    negatives by construction), a tiny m forces false positives but
    never the reverse, bit positions equal a direct md5 re-derivation,
    filters merge by union+distinct, and parameter mismatches raise."""
    import hashlib

    import pytest as _pytest

    from fstd2pandas_spark.operators.sketch import (
        bloom_bits, bloom_might_contain)

    members = [f"doc{i}" for i in range(40)]
    others = [f"other{i}" for i in range(200)]
    mdf = spark.createDataFrame([(x,) for x in members], ["k"])
    bits = bloom_bits(mdf, "k", m=64, k=3)

    # hand re-derivation of the bit set
    exp_bits = set()
    for x in members:
        for j in range(3):
            exp_bits.add(int(hashlib.md5(
                f"bloom{j}_{x}".encode()).hexdigest()[:8], 16) % 64)
    assert {r["bit"] for r in bits.collect()} == exp_bits

    probe = spark.createDataFrame(
        [(x,) for x in members + others + [None]], ["k"])
    got = {r["k"]: r["might_contain"] for r in bloom_might_contain(
        bits, probe, "k", m=64, k=3).collect()}
    assert all(got[x] for x in members)          # no false negatives
    assert any(got[x] for x in others)           # tiny m: FPs exist
    assert not all(got[x] for x in others)       # ... but not everything
    assert None not in got                       # NULL keys excluded

    # duplicate probes must not inflate the hit count into a flip
    dup = spark.createDataFrame([("other0",), ("other0",)], ["k"])
    one = {r["k"]: r["might_contain"]
           for r in bloom_might_contain(bits, dup, "k", 64, 3).collect()}
    assert one == {"other0": got["other0"]}

    # merge = union+distinct equals the filter of the union
    a = bloom_bits(mdf.limit(20), "k", m=64, k=3)
    b = bloom_bits(spark.createDataFrame(
        [(x,) for x in members[20:]], ["k"]), "k", m=64, k=3)
    merged = {r["bit"] for r in
              a.unionByName(b).select("bit", "bloom_m", "bloom_k")
              .distinct().collect()}
    assert merged == exp_bits

    with _pytest.raises(ValueError, match="m=64"):
        bloom_might_contain(bits, probe, "k", m=32, k=3)
    mixed = a.unionByName(bloom_bits(mdf, "k", m=32, k=2))
    with _pytest.raises(ValueError, match="parameterizations"):
        bloom_might_contain(mixed, probe, "k", m=64, k=3)

def test_asof_join_nearest(spark):
    """direction='nearest': closest right row in either direction,
    prior wins exact-gap ties (the pandas merge_asof rule), tolerance
    bounds the absolute gap, and the plan keeps the one-exchange /
    no-join shape (both window frames share one sort)."""
    from fstd2pandas_spark.operators.temporal import asof_join

    L = spark.createDataFrame(
        [(1, "2024-01-01T10:00:00", 100),   # nearer future (09:50 vs 10:05)
         (1, "2024-01-01T11:59:00", 101),   # nearer past (11:55 vs 13:00)
         (1, "2024-01-01T12:00:00", 102),   # exact tie 5 min both -> prior
         (2, "2024-01-01T10:00:00", 103),   # only future rows exist
         (3, "2024-01-01T10:00:00", 104)],  # no right rows at all
        ["user_id", "ts", "lid"]).withColumn(
            "ts", F.col("ts").cast("timestamp"))
    R = spark.createDataFrame(
        [(1, "2024-01-01T09:50:00", 7),
         (1, "2024-01-01T10:05:00", 8),
         (1, "2024-01-01T11:55:00", 9),
         (1, "2024-01-01T12:05:00", 10),
         (1, "2024-01-01T13:00:00", 11),
         (2, "2024-01-01T10:30:00", 12)],
        ["user_id", "ts", "rid"]).withColumn(
            "ts", F.col("ts").cast("timestamp"))

    near = {r["lid"]: r["asof_rid"] for r in asof_join(
        L, R, direction="nearest", right_cols=["rid"]).collect()}
    assert near == {100: 8, 101: 9, 102: 9, 103: 12, 104: None}

    tol = {r["lid"]: r["asof_rid"] for r in asof_join(
        L, R, direction="nearest", tolerance=240,
        right_cols=["rid"]).collect()}
    # 4-minute tolerance: 100 (5 min to 10:05) and 101 (4 min to
    # 11:55) -> only 101 and 103's 30-min gap dies too
    assert tol == {100: None, 101: 9, 102: None, 103: None, 104: None}

    plan = asof_join(L, R, direction="nearest", right_cols=["rid"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert plan.count("Sort") == 1      # both frames share one sort

def test_pagerank_integer_recurrence(spark):
    """pagerank equals a pure-Python replica of the integer
    recurrence exactly (the determinism contract an iterative float
    algorithm cannot give), handles dangling nodes by uniform
    redistribution, dedupes edges, and guards hostile parameters."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5), (3, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["r"] for r in pagerank(df, iters=5).collect()}

    SCALE, NUM, DEN = 10 ** 9, 85, 100
    es = set(edges)
    nodes = sorted({u for e in es for u in e})
    n = len(nodes)
    out = {}
    for u, _v in es:
        out[u] = out.get(u, 0) + 1
    tele = (SCALE * (DEN - NUM)) // (DEN * n)
    r = {u: SCALE // n for u in nodes}
    for _ in range(5):
        c = {u: 0 for u in nodes}
        for u, v in es:
            c[v] += r[u] // out[u]
        d = sum(r[u] for u in nodes if u not in out) // n
        r = {u: tele + (NUM * (c[u] + d)) // DEN for u in nodes}
    assert got == r
    # the sink of the chain graph outranks its feeders
    assert got[3] == max(got.values())

    with _pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)
    with _pytest.raises(ValueError, match="damping"):
        pagerank(df, damping_num=100)
    # NULL endpoints are dropped, not NULL-keyed
    dfn = spark.createDataFrame([(1, 2), (None, 3), (2, None)],
                                "src long, dst long")
    got2 = {r["node"] for r in pagerank(dfn, iters=1).collect()}
    assert got2 == {1, 2}

def test_pagerank_releases_superseded_checkpoints(spark):
    """Each iteration's localCheckpoint must release the previous
    snapshot's storage (PySpark has no public unpersist for local
    checkpoints; the LogicalRDD path is verified here) — k iterations
    must not pin k rank snapshots."""
    from fstd2pandas_spark.operators.graph import pagerank

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], ["src", "dst"])
    pagerank(df, iters=6).collect()
    after = sc._jsc.sc().getPersistentRDDs().size()
    # ONLY the final ranks snapshot may stay (one slot of slack for
    # lazy GC of unrelated state): the 5 superseded per-iteration
    # snapshots are released per round and the nodes/ed/dangling
    # build sides in the loop's finally — the returned checkpoint's
    # lineage is truncated, so nothing it can reach needs them
    assert after - before <= 2, (before, after)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="scale"):
        pagerank(df, scale=0)
    with _pytest.raises(ValueError, match="node count"):
        pagerank(df, scale=10)


def test_pagerank_reliable_checkpoint_same_ranks(spark, tmp_path):
    """checkpoint_dir switches per-iteration state to RELIABLE
    checkpoints (fault-tolerant on a real cluster): files appear under
    the directory and the integer ranks are bit-identical to the
    localCheckpoint path — the determinism contract is independent of
    the checkpoint mechanism."""
    import os

    from fstd2pandas_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], ["src", "dst"])
    local = {r["node"]: r["r"] for r in pagerank(df, iters=3).collect()}
    ckdir = str(tmp_path / "pr_ckpt")
    reliable = {r["node"]: r["r"]
                for r in pagerank(df, iters=3,
                                  checkpoint_dir=ckdir).collect()}
    assert reliable == local
    found = [f for _root, _d, files in os.walk(ckdir) for f in files]
    assert found, "no reliable checkpoint files written"


def test_kmins_signature_hand_computed_and_merge(spark):
    """k-mins minima equal a direct Python md5 re-derivation (60-bit
    hash per salt j, min per group/component), a merged signature
    equals the signature of the union (min distributes over union),
    NULL keys are excluded, and the k-parameterization guards fire."""
    import hashlib

    import pytest as _pytest

    from fstd2pandas_spark.operators.sketch import (
        kmins_estimate, kmins_merge, kmins_minima)

    def h60(j, key):
        return int(hashlib.md5(
            f"kmins{j}_{key}".encode()).hexdigest()[:15], 16)

    rows = ([("a", f"k{i}") for i in range(40)]
            + [("b", f"k{i}") for i in range(20, 60)]
            + [("a", None)])
    df = spark.createDataFrame(rows, ["g", "k"])
    k = 8
    got = {(r["g"], r["j"]): r["min_hv"]
           for r in kmins_minima(df, "k", ["g"], k=k).collect()}
    exp = {}
    for g, key in rows:
        if key is None:
            continue
        for j in range(k):
            c = (g, j)
            exp[c] = min(exp.get(c, 1 << 62), h60(j, key))
    assert got == exp

    # merge == signature of the union, including a one-side-only group
    a = kmins_minima(df.filter(F.col("g") == "a"), "k", ["g"], k=k)
    b = kmins_minima(df.filter(F.col("g") == "b"), "k", ["g"], k=k)
    merged = {(r["g"], r["j"]): r["min_hv"]
              for r in kmins_merge(a, b, ["g"], k=k).collect()}
    assert merged == exp

    with _pytest.raises(ValueError, match="k="):
        kmins_merge(a, kmins_minima(df, "k", ["g"], k=4), ["g"], k=k)
    with _pytest.raises(ValueError, match="k must be"):
        kmins_minima(df, "k", ["g"], k=0)

    # driver-side estimate: within 3x sqrt-k relative error of truth
    n = 500
    big = spark.createDataFrame([(f"u{i}",) for i in range(n)], ["k"])
    mins = [r["min_hv"]
            for r in kmins_minima(big, "k", k=32).collect()]
    est = kmins_estimate(mins, 32)
    assert abs(est - n) / n < 3 / 32 ** 0.5
    assert kmins_estimate([], 32) == 0.0
    with _pytest.raises(ValueError, match="minima for k"):
        kmins_estimate([1, 2], 1)


def test_kmins_agreement_estimates_jaccard(spark):
    """Agreement counts: identical key sets agree on every component,
    disjoint sets agree on none (md5 60-bit collisions aside), and a
    50%-overlap pair lands near k * J = k/3; pairs are emitted once
    with ga < gb."""
    from fstd2pandas_spark.operators.sketch import (
        kmins_agreement, kmins_minima)

    k = 64
    rows = ([("s1", f"k{i}") for i in range(100)]
            + [("s2", f"k{i}") for i in range(100)]       # identical
            + [("s3", f"d{i}") for i in range(100)]       # disjoint
            + [("s4", f"k{i}") for i in range(50, 150)])  # J = 1/3
    df = spark.createDataFrame(rows, ["g", "k"])
    m = kmins_minima(df, "k", ["g"], k=k)
    ag = {(r["ga"], r["gb"]): r["agree"]
          for r in kmins_agreement(m, "g", k=k).collect()}
    assert len(ag) == 6 and all(a < b for a, b in ag)
    assert ag[("s1", "s2")] == k
    assert ag[("s1", "s3")] == 0
    j13 = ag[("s1", "s4")] / k
    assert abs(j13 - 1 / 3) < 3 * ((1 / 3) * (2 / 3) / k) ** 0.5


def test_group_quantiles_disc_matches_duckdb_native(spark):
    """The window-rank implementation equals DuckDB's NATIVE
    quantile_disc (an independent derivation of the nearest-rank
    definition) across group sizes 1..40 with duplicates, including
    q=0/1 endpoints; NULL values are excluded; guards fire."""
    import duckdb
    import pytest as _pytest

    from fstd2pandas_spark.operators.quantiles import group_quantiles_disc

    import random
    rng = random.Random(7)
    rows = []
    for g in range(12):
        n = g * 3 + 1  # sizes 1..34
        for _ in range(n):
            rows.append((f"g{g}", rng.randrange(0, 20)))  # heavy ties
    rows.append(("g0", None))
    df = spark.createDataFrame(rows, ["g", "v"])
    qs = (0.0, 0.25, 0.5, 0.75, 1.0)
    got = {(r["g"], r["q"]): r["value"]
           for r in group_quantiles_disc(df, "v", ["g"], qs).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [r for r in rows if r[1] is not None])
    exp = {}
    for q in qs:
        for g, v in con.execute(
                f"SELECT g, quantile_disc(v, {q}) FROM t GROUP BY g"
                ).fetchall():
            exp[(g, q)] = v
    assert got == exp

    with _pytest.raises(ValueError, match="outside"):
        group_quantiles_disc(df, "v", ["g"], (1.5,))
    with _pytest.raises(ValueError, match="non-empty"):
        group_quantiles_disc(df, "v", ["g"], ())


def test_quantile_flags_thresholds_and_below_median(spark):
    """Thresholds pivot back onto the rows (q25/q50/q75 per group),
    below_med compares strictly against the group median, and 0.5
    must be among the requested quantiles."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.quantiles import quantile_flags

    rows = ([("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8]]
            + [("b", v) for v in [10, 20, 30]])
    df = spark.createDataFrame(rows, ["g", "v"])
    out = quantile_flags(df, "v", "g").collect()
    a = {r["v"]: r for r in out if r["g"] == "a"}
    # n=8: ranks ceil(.25*8)=2, ceil(.5*8)=4, ceil(.75*8)=6
    assert (a[1]["q25"], a[1]["q50"], a[1]["q75"]) == (2, 4, 6)
    assert a[3]["below_med"] and not a[4]["below_med"]
    b = {r["v"]: r for r in out if r["g"] == "b"}
    # n=3: ranks 1, 2, 3
    assert (b[10]["q25"], b[10]["q50"], b[10]["q75"]) == (10, 20, 30)
    assert b[10]["below_med"] and not b[20]["below_med"]
    with _pytest.raises(ValueError, match="0.5"):
        quantile_flags(df, "v", "g", qs=(0.25, 0.75))


def test_quantiles_sessions_degenerate_inputs(spark):
    """The round-15 degenerate-input sweep over quantiles.py and
    sessions.py, pinned:

    1. quantile_flags hands a NULL-group row ITS OWN stratum's
       thresholds (eqNullSafe join) — the old name-equality join
       computed the NULL stratum's median and then handed those rows
       NULL back (below_med NULL despite a known threshold; the
       temperature_mix_sample class).
    2. group_quantiles_disc excludes NaN values like NULLs: the
       engines disagree on NaN's rank (Spark sorts it above every
       double; DuckDB's quantile_disc returned it as the MEDIAN of
       (1, NaN, 3)), so including it makes the threshold
       engine-dependent.
    3. quantile_flags refuses qs whose q{round(q*100)} labels collide
       (two thresholds sharing one output column silently).
    4. sessionize EXCLUDES NULL-timestamp events (no position on the
       time axis — session_window drops them silently; now explicit)
       and NULL-key events (all unidentified users previously merged
       into ONE pseudo-user whose fabricated sessions interleaved
       unrelated events).
    """
    import datetime as dt

    import pytest as _pytest

    from fstd2pandas_spark.operators.quantiles import (
        group_quantiles_disc, quantile_flags)
    from fstd2pandas_spark.operators.sessions import sessionize

    # 1: NULL stratum's thresholds come back to its rows
    q = spark.createDataFrame(
        [("en", 1.0), ("en", 2.0), ("en", 3.0), ("en", 4.0),
         (None, 10.0), (None, 20.0), (None, 30.0)],
        "lang string, score double")
    out = {(r["lang"], r["score"]): r
           for r in quantile_flags(q, "score", "lang", (0.5,)).collect()}
    assert out[(None, 10.0)]["q50"] == 20.0
    assert out[(None, 10.0)]["below_med"] is True
    assert out[(None, 30.0)]["below_med"] is False
    assert out[("en", 1.0)]["q50"] == 2.0  # real strata unchanged

    # 2: NaN has no rank — (1, NaN, 3) medians to 1.0 at n=2, and
    # q=1.0 is 3.0, never NaN
    nan_df = spark.createDataFrame(
        [("en", 1.0), ("en", float("nan")), ("en", 3.0)],
        "lang string, score double")
    got = {r["q"]: r["value"]
           for r in group_quantiles_disc(
               nan_df, "score", ["lang"], (0.5, 1.0)).collect()}
    assert got == {0.5: 1.0, 1.0: 3.0}

    # 3: colliding labels refuse
    with _pytest.raises(ValueError, match="collide"):
        quantile_flags(q, "score", "lang", (0.5, 0.252, 0.248))

    # 4: sessionize exclusion contract
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [("u1", t0, 1.0),
         ("u1", t0 + dt.timedelta(minutes=10), 2.0),
         ("u1", None, 100.0),          # NULL ts: excluded, sum too
         (None, t0, 5.0),              # NULL key: excluded —
         (None, t0 + dt.timedelta(minutes=5), 6.0),  # no pseudo-user
         ("u2", None, 7.0)],           # u2 has ONLY a NULL-ts event
        "user_id string, ts timestamp, value double")
    sess = sessionize(ev, gap="30 minutes").collect()
    assert {r["user_id"] for r in sess} == {"u1"}
    (u1,) = sess
    assert u1["n_events"] == 2 and u1["sum_value"] == 3.0


def test_group_linfit_exact_and_guards(spark):
    """Slope/intercept equal the exact-fraction OLS on integer points
    (bit-compare against Python Fraction -> float), NULL points are
    excluded, constant-x groups fit NULL, and float columns raise."""
    from fractions import Fraction

    import pytest as _pytest

    from fstd2pandas_spark.operators.linfit import group_linfit

    import random
    rng = random.Random(11)
    pts = {"a": [(x, 2 * x + 1) for x in range(5)],          # exact line
           "b": [(rng.randrange(0, 500), rng.randrange(-10**6, 10**6))
                 for _ in range(40)],
           "c": [(7, 1), (7, 5), (7, 9)]}                    # vertical
    rows = [(g, x, y) for g, ps in pts.items() for x, y in ps]
    rows.append(("a", None, 5))
    rows.append(("a", 5, None))
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: r for r in group_linfit(df, "x", "y", ["g"]).collect()}

    assert got["a"]["n"] == 5
    assert got["a"]["slope"] == 2.0 and got["a"]["intercept"] == 1.0
    assert got["c"]["slope"] is None and got["c"]["intercept"] is None

    n = len(pts["b"])
    sx = sum(x for x, _ in pts["b"]); sy = sum(y for _, y in pts["b"])
    sxy = sum(x * y for x, y in pts["b"])
    sxx = sum(x * x for x, _ in pts["b"])
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    slope = float(num) / float(den)
    assert got["b"]["slope"] == slope
    assert got["b"]["intercept"] == (float(sy) - slope * float(sx)) / float(n)
    # sanity vs the true least-squares fraction
    assert abs(got["b"]["slope"] - Fraction(num, den)) < 1e-9

    with _pytest.raises(ValueError, match="integer column"):
        group_linfit(df.withColumn("x", F.col("x").cast("double")),
                     "x", "y", ["g"])


def test_group_linfit_overflow_raises_loudly(spark):
    """DECIMAL(38,0) overflow can never silently NULL a point out of
    the fit, REGARDLESS of the ANSI setting: 1e18+-scale inputs raise
    at the per-row magnitude guard; inputs that pass it but overflow a
    38-digit SUM or polynomial raise natively under ANSI (Spark 4
    default) and at the post-aggregation guard under non-ANSI — where
    the sum would otherwise silently skip NULLed points and return a
    NULL slope confusable with the constant-x contract."""
    import pytest as _pytest

    from fstd2pandas_spark.operators.linfit import group_linfit

    # (a) per-row magnitude: |x| >= 1e18 (9.2e18 = near-bigint-max)
    big = spark.createDataFrame(
        [("g", 9_200_000_000_000_000_000, 1), ("g", 1, 2)],
        "g string, x long, y long")
    with _pytest.raises(Exception, match="MAX_ABS_INPUT"):
        group_linfit(big, "x", "y", ["g"]).collect()

    # (b) every input under the per-row bound, but 101 products of
    # ~1e36 overflow the 38-digit sum(x*x)
    v = 999_999_999_999_999_999
    sum_of = spark.createDataFrame([("g", v, i) for i in range(101)],
                                   "g string, x long, y long")
    # (c) sums fit but the n*Sxy polynomial exceeds 38 digits
    poly_of = spark.createDataFrame(
        [("g", 500_000_000_000_000_000 + i, 500_000_000_000_000_000)
         for i in range(20)], "g string, x long, y long")
    for df in (sum_of, poly_of):
        with _pytest.raises(
                Exception,
                match="ARITHMETIC_OVERFLOW|NUMERIC_VALUE_OUT_OF_RANGE"
                      "|overflowed DECIMAL"):
            group_linfit(df, "x", "y", ["g"]).collect()
    # the non-ANSI silent-NULL path is the one the guard exists for
    ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        for df in (sum_of, poly_of):
            with _pytest.raises(Exception, match="overflowed DECIMAL"):
                group_linfit(df, "x", "y", ["g"]).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi0)

    # (d) values just below the bound on a SMALL group still fit fine
    ok = spark.createDataFrame(
        [("g", 0, -v), ("g", 1, v)], "g string, x long, y long")
    row = group_linfit(ok, "x", "y", ["g"]).collect()[0]
    assert row["slope"] == float(2 * v)
    assert row["intercept"] == float(-v)


def test_partition_fingerprints_and_snapshot_diff(spark):
    """Fingerprints equal a hashlib re-derivation (sum of two 32-bit
    md5 slices), are invariant to row order/partitioning, NULL content
    hashes as the NUL-byte sentinel — distinct from the empty string —
    and changed_partitions classifies new/changed/deleted exactly,
    null-safely on the partition key; unchanged partitions emit no
    row."""
    import hashlib

    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    rows = [("s1", 1, "a"), ("s1", 2, "b"), ("s2", 3, None),
            ("s3", 4, "d"), ("s3", 5, "e"), ("s3", 6, "f")]
    df = spark.createDataFrame(rows, "src string, id long, t string")
    fp = {r["src"]: (r["n_rows"], r["fp_a"], r["fp_b"]) for r in
          partition_fingerprints(df, ["src"], ["id", "t"]).collect()}

    want = {}
    for src, i, t in rows:
        body = (t.replace("\x00", "\x00\x00")
                .replace("\x1f", "\x00\x1f")
                if t is not None else chr(0) + "null")
        h = hashlib.md5(
            f"snap1\x1f{i}\x1f{body}".encode()).hexdigest()
        n, a, b = want.get(src, (0, 0, 0))
        want[src] = (n + 1, a + int(h[:8], 16), b + int(h[8:16], 16))
    assert fp == want

    # a literal \x1f INSIDE a value must not alias a column boundary:
    # ('a\x1fb','c') and ('a','b\x1fc') are DIFFERENT content, and a
    # partition flipping between them is a REAL change — unescaped,
    # both concatenated to the same hash input and the change
    # fingerprinted as unchanged (silent-stale-partition class)
    sep1 = partition_fingerprints(
        spark.createDataFrame([("s", "a\x1fb", "c")],
                              "src string, x string, y string"),
        ["src"], ["x", "y"]).collect()[0]
    sep2 = partition_fingerprints(
        spark.createDataFrame([("s", "a", "b\x1fc")],
                              "src string, x string, y string"),
        ["src"], ["x", "y"]).collect()[0]
    assert (sep1["fp_a"], sep1["fp_b"]) != (sep2["fp_a"], sep2["fp_b"])
    assert changed_partitions(
        partition_fingerprints(
            spark.createDataFrame([("s", "a\x1fb", "c")],
                                  "src string, x string, y string"),
            ["src"], ["x", "y"]),
        partition_fingerprints(
            spark.createDataFrame([("s", "a", "b\x1fc")],
                                  "src string, x string, y string"),
            ["src"], ["x", "y"]),
        ["src"]).collect()[0]["status"] == "changed"

    # a string column literally holding the NUL sentinel '\\x00null'
    # must NOT alias NULL (the r11 advice): NUL bytes in real content
    # double-escape before the sentinel applies
    fp_alias = partition_fingerprints(
        spark.createDataFrame([("s", 1, "\x00null")],
                              "src string, id long, t string"),
        ["src"], ["id", "t"]).collect()[0]
    fp_isnull = partition_fingerprints(
        spark.createDataFrame([("s", 1, None)],
                              "src string, id long, t string"),
        ["src"], ["id", "t"]).collect()[0]
    assert (fp_alias["fp_a"], fp_alias["fp_b"]) \
        != (fp_isnull["fp_a"], fp_isnull["fp_b"])
    ha = hashlib.md5(
        ("snap1\x1f1\x1f" + "\x00\x00null").encode()).hexdigest()
    assert fp_alias["fp_a"] == int(ha[:8], 16)   # the escaped form

    # NULL vs empty string is a DETECTABLE change (the sentinel's job)
    fp_null = partition_fingerprints(
        spark.createDataFrame([("s", 1, None)],
                              "src string, id long, t string"),
        ["src"], ["id", "t"]).collect()[0]
    fp_empty = partition_fingerprints(
        spark.createDataFrame([("s", 1, "")],
                              "src string, id long, t string"),
        ["src"], ["id", "t"]).collect()[0]
    assert (fp_null["fp_a"], fp_null["fp_b"]) \
        != (fp_empty["fp_a"], fp_empty["fp_b"])

    # order/partitioning invariance
    fp2 = {r["src"]: (r["n_rows"], r["fp_a"], r["fp_b"]) for r in
           partition_fingerprints(
               df.orderBy(F.desc("id")).repartition(7),
               ["src"], ["id", "t"]).collect()}
    assert fp2 == fp

    # diff: s1 unchanged, s2 rewritten in place (same count, new
    # content), s3 deleted, s4 new
    rows2 = [("s1", 1, "a"), ("s1", 2, "b"), ("s2", 3, "X"),
             ("s4", 9, "z")]
    cur = partition_fingerprints(
        spark.createDataFrame(rows2, "src string, id long, t string"),
        ["src"], ["id", "t"])
    prev = partition_fingerprints(df, ["src"], ["id", "t"])
    got = {r["src"]: r["status"]
           for r in changed_partitions(cur, prev, ["src"]).collect()}
    assert got == {"s2": "changed", "s3": "deleted", "s4": "new"}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one"):
        partition_fingerprints(df, [], ["id"])


def test_snapshot_diff_null_partition_key(spark):
    """A NULL partition key (the __HIVE_DEFAULT_PARTITION__ case) must
    compare like any other key value: unchanged → NO row (not the
    new+deleted pair a non-null-safe join would fabricate every run),
    changed → exactly one 'changed' row carrying the NULL key."""
    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    schema = "src string, id long, t string"
    base = spark.createDataFrame(
        [(None, 1, "a"), (None, 2, "b"), ("s1", 3, "c")], schema)
    prev = partition_fingerprints(base, ["src"], ["id", "t"])

    # unchanged NULL-key partition: the diff must be EMPTY
    same = partition_fingerprints(
        spark.createDataFrame(
            [(None, 2, "b"), (None, 1, "a"), ("s1", 3, "c")], schema),
        ["src"], ["id", "t"])
    assert changed_partitions(same, prev, ["src"]).count() == 0

    # changed NULL-key partition: one 'changed' row, key still NULL
    moved = partition_fingerprints(
        spark.createDataFrame(
            [(None, 1, "a"), (None, 2, "XX"), ("s1", 3, "c")], schema),
        ["src"], ["id", "t"])
    got = changed_partitions(moved, prev, ["src"]).collect()
    assert len(got) == 1
    assert got[0]["src"] is None and got[0]["status"] == "changed"


def test_partition_fingerprints_rowcount_guard(spark, monkeypatch):
    """Above MAX_PARTITION_ROWS the int64 slice sums lose their
    no-wrap headroom and a non-ANSI overflow would be silent — the
    count column must raise in-plan, config-independently (bound
    shrunk for the test; the guard reads the module global at call
    time)."""
    import fstd2pandas_spark.plans.snapshot as snap

    df = spark.createDataFrame(
        [("s", i, "x") for i in range(5)], "src string, id long, t string")
    monkeypatch.setattr(snap, "MAX_PARTITION_ROWS", 4)
    with pytest.raises(Exception, match="MAX_PARTITION_ROWS"):
        snap.partition_fingerprints(df, ["src"], ["id", "t"]).collect()
    monkeypatch.setattr(snap, "MAX_PARTITION_ROWS", 5)
    assert snap.partition_fingerprints(
        df, ["src"], ["id", "t"]).collect()[0]["n_rows"] == 5


def test_incremental_refresh_exact(spark):
    """The refreshed partials table is EXACTLY partial_aggregates over
    the current corpus — keep (unchanged, incl. a NULL partition key),
    rebuild (changed + new), drop (deleted) all exercised — the final
    reduce equals a direct aggregation, the broadcast-semi fallback
    (prune_limit=0) agrees with the literal path, and the guards
    fire."""
    from fstd2pandas_spark.plans.incremental import (
        incremental_refresh, partial_aggregates, reduce_partials)
    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    schema = "day string, u long, v long"
    # prv: d1 (will stay), NULL day (stays), d2 (will change),
    #      d3 (will be deleted)
    prv = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), (None, 1, 5),
         ("d2", 1, 7), ("d2", 2, 8), ("d3", 9, 99)], schema)
    # cur: d2 content moved (same row count — only the fingerprint
    # sees it), d3 gone, d4 new
    cur = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), (None, 1, 5),
         ("d2", 1, 7), ("d2", 2, 80), ("d4", 2, 4)], schema)

    old_p = partial_aggregates(prv, ["day"], ["u"], ["v"])
    diff = changed_partitions(
        partition_fingerprints(cur, ["day"], ["u", "v"]),
        partition_fingerprints(prv, ["day"], ["u", "v"]), ["day"])
    assert {r["day"]: r["status"] for r in diff.collect()} == \
        {"d2": "changed", "d3": "deleted", "d4": "new"}

    want = {tuple(r) for r in
            partial_aggregates(cur, ["day"], ["u"], ["v"]).collect()}
    got = incremental_refresh(cur, old_p, diff, ["day"], ["u"], ["v"])
    assert {tuple(r) for r in got.collect()} == want
    # the broadcast-semi fallback path must agree bit-for-bit
    got0 = incremental_refresh(cur, old_p, diff, ["day"], ["u"], ["v"],
                               prune_limit=0)
    assert {tuple(r) for r in got0.collect()} == want

    # final reduce == direct aggregation over the current corpus
    direct = {(r["u"], r["n_rows"], r["sum_v"]) for r in
              cur.groupBy("u").agg(
                  F.count("*").cast("long").alias("n_rows"),
                  F.sum("v").cast("long").alias("sum_v")).collect()}
    red = {tuple(r) for r in
           reduce_partials(got, ["u"], ["v"]).collect()}
    assert red == direct

    # a NULL partition key that CHANGES is rebuilt, not duplicated
    cur2 = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), (None, 1, 6)], schema)
    prv2 = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), (None, 1, 5)], schema)
    d2 = changed_partitions(
        partition_fingerprints(cur2, ["day"], ["u", "v"]),
        partition_fingerprints(prv2, ["day"], ["u", "v"]), ["day"])
    out2 = incremental_refresh(
        cur2, partial_aggregates(prv2, ["day"], ["u"], ["v"]),
        d2, ["day"], ["u"], ["v"])
    assert {tuple(r) for r in out2.collect()} == {
        tuple(r) for r in
        partial_aggregates(cur2, ["day"], ["u"], ["v"]).collect()}

    # bootstrap: first run — empty previous partials, every partition
    # 'new' in the diff — must equal a from-scratch build
    empty_p = partial_aggregates(prv.filter(F.lit(False)),
                                 ["day"], ["u"], ["v"])
    d0 = changed_partitions(
        partition_fingerprints(cur, ["day"], ["u", "v"]),
        partition_fingerprints(prv.filter(F.lit(False)),
                               ["day"], ["u", "v"]), ["day"])
    boot = incremental_refresh(cur, empty_p, d0, ["day"], ["u"], ["v"])
    assert {tuple(r) for r in boot.collect()} == want

    # guards: non-integer metric, reserved names, missing status,
    # per-value magnitude (in-plan, config-independent)
    fdf = spark.createDataFrame([("d", 1, 1.5)],
                                "day string, u long, v double")
    with pytest.raises(ValueError, match="integer column"):
        partial_aggregates(fdf, ["day"], ["u"], ["v"])
    ndf = spark.createDataFrame([("d", 1, 2)],
                                "day string, n_rows long, v long")
    with pytest.raises(ValueError, match="collide"):
        partial_aggregates(ndf, ["day"], ["n_rows"], ["v"])
    with pytest.raises(ValueError, match="status"):
        incremental_refresh(cur, old_p, diff.drop("status"),
                            ["day"], ["u"], ["v"])
    import fstd2pandas_spark.plans.incremental as inc
    big = spark.createDataFrame([("d", 1, 2 ** 31 + 1)], schema)
    with pytest.raises(Exception, match="MAX_SUM_ABS"):
        partial_aggregates(big, ["day"], ["u"], ["v"]).collect()
    # Long.MIN_VALUE must ALSO raise: non-ANSI abs() wraps it onto
    # itself, so an abs()-based guard would wave through the exact
    # silent overflow the guard exists to catch
    lmin = spark.createDataFrame([("d", 1, -(2 ** 63))], schema)
    with pytest.raises(Exception, match="MAX_SUM_ABS"):
        partial_aggregates(lmin, ["day"], ["u"], ["v"]).collect()
    clash = spark.createDataFrame([("d", 1, 2, 3)],
                                  "day string, u long, v long, _d0 long")
    with pytest.raises(ValueError, match="internal join-key"):
        incremental_refresh(clash, old_p, diff, ["day"], ["u"], ["v"])


def test_key_skew_report(spark):
    """Exact counts, integer-div ppm shares, deterministic tie ranks
    (count desc then key asc), top-k truncation, NULL keys counted as
    a real group, and the guards; plan lock = the LOCKED shape (one
    range sort over the keys-sized count frame with LocalLimit pushed
    below the single-partition merge — TakeOrderedAndProject never
    applies to non-terminal limits, so don't chase it)."""
    from fstd2pandas_spark.plans.salting import key_skew_report

    rows = (["a"] * 6 + ["b"] * 3 + ["c"] * 3 + [None] * 2 + ["d"])
    df = spark.createDataFrame([(k,) for k in rows], "k string")
    got = [(r["k"], r["n_rows"], r["share_ppm"], r["rank"])
           for r in key_skew_report(df, ["k"], top_k=4)
           .orderBy("rank").collect()]
    # 15 rows total: a=6 (400000 ppm), b=c=3 (200000, tie -> b then c),
    # NULL=2 (133333)
    assert got == [("a", 6, 400000, 1), ("b", 3, 200000, 2),
                   ("c", 3, 200000, 3), (None, 2, 133333, 4)]

    with pytest.raises(ValueError, match="key column"):
        key_skew_report(df, [])
    with pytest.raises(ValueError, match="MAX_SKEW_TOPK"):
        key_skew_report(df, ["k"], top_k=10_001)
    with pytest.raises(ValueError, match="output names"):
        key_skew_report(df.withColumnRenamed("k", "rank"), ["rank"])

    # scale lock: the facts are aggregated BEFORE any sort (the only
    # global sort consumes the keys-sized count frame) and LocalLimit
    # bounds what reaches the single-partition merge to k rows per
    # range partition
    out = key_skew_report(df, ["k"], top_k=4)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    init = plan.split("== Initial Plan ==")[-1]
    assert "LocalLimit 4" in init, init
    gsorts = [ln for ln in init.splitlines() if "], true, 0" in ln]
    assert len(gsorts) == 1 and "n_rows" in gsorts[0], init


def test_table_quality_report(spark):
    """Every rule kind against hand-computed violation counts on one
    frame, NULL handling per contract (bounds/sets/patterns skip NULLs
    — not_null owns them), strict mode raising in-plan on the first
    violating rule, and the plan staying a single aggregation pass."""
    from fstd2pandas_spark.operators.validation import (
        table_quality_report)

    df = spark.createDataFrame(
        [(1, "a-1", 5.0), (2, "b-2", -1.0), (2, "c!3", None),
         (None, None, 150.0), (4, "d-4", 50.0)],
        "k long, s string, x double")
    rules = [
        ("r_nn", "k", "not_null"),            # 1 NULL
        ("r_min", "x", "min", 0.0),           # -1.0 -> 1
        ("r_max", "x", "max", 100.0),         # 150.0 -> 1
        ("r_bet", "x", "between", 0.0, 100.0),  # -1, 150 -> 2
        ("r_set", "k", "in_set", [1, 2, 4]),  # 0 (NULL skipped)
        ("r_re", "s", "matches", "^[a-z]-[0-9]$"),  # 'c!3' -> 1
        ("r_uq", "k", "unique"),              # k=2 twice -> 1
        ("r_cu", "x", "custom", F.col("x") == 50.0),  # 1
    ]
    got = {r["name"]: (r["n_rows"], r["n_violations"], r["passed"])
           for r in table_quality_report(df, rules).collect()}
    assert got == {
        "r_nn": (5, 1, False), "r_min": (5, 1, False),
        "r_max": (5, 1, False), "r_bet": (5, 2, False),
        "r_set": (5, 0, True), "r_re": (5, 1, False),
        "r_uq": (5, 1, False), "r_cu": (5, 1, False)}

    # strict mode: a clean rule set passes, a dirty one raises in-plan
    clean = [("ok", "k", "in_set", [1, 2, 4])]
    assert table_quality_report(df, clean, strict=True) \
        .collect()[0]["passed"] is True
    with pytest.raises(Exception, match="strict mode"):
        table_quality_report(df, rules, strict=True).collect()

    # guards: empty rules, duplicate names, bad kind, non-Column custom
    with pytest.raises(ValueError, match="at least one"):
        table_quality_report(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        table_quality_report(df, [("a", "k", "not_null"),
                                  ("a", "x", "not_null")])
    with pytest.raises(ValueError, match="unknown kind"):
        table_quality_report(df, [("a", "k", "median")])
    with pytest.raises(ValueError, match="must be a Column"):
        table_quality_report(df, [("a", "k", "custom", "k > 1")])

    # an EMPTY batch is clean: zero violations, passed, and strict
    # mode must NOT raise (SUM over no rows is NULL — coalesced)
    empty = df.filter(F.lit(False))
    erep = table_quality_report(empty, rules, strict=True).collect()
    assert all(r["n_violations"] == 0 and r["passed"] is True
               and r["n_rows"] == 0 for r in erep)

    # single-pass plan: EXACTLY one scan of the facts feeds every
    # counter (a rules-split regression would add a second scan)
    rep = table_quality_report(df, rules)
    rep.collect()
    plan = rep._jdf.queryExecution().executedPlan().toString()
    init = plan.split("== Initial Plan ==")[-1]
    assert init.count("Scan ExistingRDD") == 1, init


def test_incremental_adoption_guards(spark):
    """The whole-file review's adoption-path class for the incremental
    plane, each pinned with the silent corruption it prevents:
    (a) a diff status outside new/changed/deleted fell BETWEEN 'drop
    the old partial' and 'rebuild', silently deleting that partition
    from the partials; (b) duplicate (partition, group) rows in a
    hand-built partials table pass the keep anti-join and double-count
    every reduce — check_unique=True raises in-plan; (c) a drifted
    DOUBLE sum column float-widened the whole refreshed table through
    unionByName with no error; (d) hand-built partials with
    out-of-envelope sums (or negative/NULL n_rows) wrapped the reduce
    total silently under non-ANSI; (e) part cols named like outputs
    yielded ambiguous duplicate-column frames; (f) misspelled columns
    now fail BEFORE the diff's expensive eager materialization."""
    from fstd2pandas_spark.plans.incremental import (
        incremental_refresh, partial_aggregates, reduce_partials)
    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    schema = "day string, u long, v long"
    cur = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), ("d2", 1, 7)], schema)
    partials = partial_aggregates(cur, ["day"], ["u"], ["v"])
    diff = changed_partitions(
        partition_fingerprints(cur, ["day"], ["u", "v"]),
        partition_fingerprints(cur.filter("day = 'd1'"),
                               ["day"], ["u", "v"]),
        ["day"])

    # (a) unknown status refused loudly
    bad_diff = diff.unionByName(spark.createDataFrame(
        [("d1", "modified")], "day string, status string"))
    with pytest.raises(ValueError, match="unknown status"):
        incremental_refresh(cur, partials, bad_diff, ["day"], ["u"],
                            ["v"])

    # (b) duplicate partials rows: default lean, opt-in raises naming
    # the key; unique partials pass WITH the guard
    dup = partials.unionByName(partials.filter("day = 'd1' AND u = 1"))
    with pytest.raises(Exception, match="double-counts"):
        incremental_refresh(cur, dup, diff, ["day"], ["u"], ["v"],
                            check_unique=True).collect()
    ok = incremental_refresh(cur, partials, diff, ["day"], ["u"],
                             ["v"], check_unique=True)
    assert {tuple(r) for r in ok.collect()} == \
        {tuple(r) for r in partials.collect()}

    # (c) drifted double sum column refused at call time, both entry
    # points (previously: unionByName silently widened to double)
    drifted = partials.withColumn("sum_v",
                                  F.col("sum_v").cast("double"))
    with pytest.raises(ValueError, match="must be integers"):
        incremental_refresh(cur, drifted, diff, ["day"], ["u"], ["v"])
    with pytest.raises(ValueError, match="must be integers"):
        reduce_partials(drifted, ["u"], ["v"])

    # (d) hand-built partials outside the build envelope refused
    # in-plan: out-of-envelope sum, negative and NULL n_rows
    hand = spark.createDataFrame(
        [(1, 1, 2 ** 62)], "u long, n_rows long, sum_v long")
    with pytest.raises(Exception, match="envelope"):
        reduce_partials(hand, ["u"], ["v"]).collect()
    for nr in (-5, None):
        handn = spark.createDataFrame(
            [(1, nr, 3)], "u long, n_rows long, sum_v long")
        with pytest.raises(Exception, match="outside"):
            reduce_partials(handn, ["u"], ["v"]).collect()
    # ...while legitimate partials still reduce exactly
    red = reduce_partials(partials, ["u"], ["v"]).collect()
    assert {(r["u"], r["n_rows"], r["sum_v"]) for r in red} == \
        {(1, 2, 17), (2, 1, 20)}

    # (e) reserved output names refused in the snapshot plane too
    with pytest.raises(ValueError, match="fp_a"):
        partition_fingerprints(
            cur.withColumnRenamed("day", "fp_a"), ["fp_a"], ["v"])
    with pytest.raises(ValueError, match="status"):
        changed_partitions(
            partials.withColumnRenamed("day", "status"),
            partials.withColumnRenamed("day", "status"), ["status"])

    # (f) misspelled columns fail BEFORE the eager diff checkpoint
    with pytest.raises(ValueError, match="not in the current"):
        incremental_refresh(cur, partials, diff, ["day"], ["u"],
                            ["vv"])
    with pytest.raises(ValueError, match="not in the partials"):
        reduce_partials(partials.drop("n_rows"), ["u"], ["v"])


def test_incremental_refresh_randomized_model(spark):
    """Property-style check: 25 seeded-random corpus mutations
    (partitions added, dropped, value-edited, row-count-edited,
    untouched — incl. a NULL partition key) — for each, the refreshed
    partials from the previous corpus + diff must equal
    partial_aggregates over the current corpus EXACTLY, on both the
    literal-pruned and the semi-join fallback path (one Spark job per
    path over all scenarios via a compound (scenario, day) partition
    key)."""
    import random

    from fstd2pandas_spark.plans.incremental import (
        incremental_refresh, partial_aggregates)
    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    rng = random.Random(7)
    prv_rows, cur_rows = [], []
    for sc in range(25):
        days = [None if rng.random() < 0.1 else d for d in
                rng.sample(range(6), rng.randint(2, 5))]
        for d in set(days):
            n = rng.randint(1, 4)
            rows = [(sc, d, rng.randint(0, 2),
                     rng.randint(-50, 50)) for _ in range(n)]
            fate = rng.choice(["keep", "changed", "deleted", "resize"])
            if fate != "new":
                prv_rows.extend(rows)
            if fate == "keep":
                cur_rows.extend(rows)
            elif fate == "changed":
                cur_rows.extend((s, dd, u, v + 1) for s, dd, u, v in rows)
            elif fate == "resize":
                cur_rows.extend(rows + [(sc, d, 9, 9)])
            # 'deleted': absent from cur
        # a brand-new partition in cur only
        if rng.random() < 0.7:
            cur_rows.append((sc, 97, rng.randint(0, 2),
                             rng.randint(-50, 50)))

    schema = "sc long, day long, u long, v long"
    prv = spark.createDataFrame(prv_rows, schema)
    cur = spark.createDataFrame(cur_rows, schema)
    pc = ["sc", "day"]
    diff = changed_partitions(
        partition_fingerprints(cur, pc, ["u", "v"]),
        partition_fingerprints(prv, pc, ["u", "v"]), pc)
    old_p = partial_aggregates(prv, pc, ["u"], ["v"])
    want = {tuple(r) for r in
            partial_aggregates(cur, pc, ["u"], ["v"]).collect()}
    for lim in (10_000, 0):     # literal-pruned path, then fallback
        got = {tuple(r) for r in incremental_refresh(
            cur, old_p, diff, pc, ["u"], ["v"],
            prune_limit=lim).collect()}
        assert got == want, f"prune_limit={lim}"


def test_scd2_apply_semantics(spark):
    """Every SCD2 path on one frame: identical-payload NO-OP (change
    detection — an idempotent re-extract must not grow history),
    changed payload closes current + appends open, tombstone closes
    without appending, new key appends, absent-key tombstone no-ops,
    closed rows pass through untouched, NULL keys match null-safely;
    the monotonic-version raise and the schema guards fire; and a
    second identical apply is a fixpoint."""
    from fstd2pandas_spark.plans.merge import scd2_apply

    hist_schema = ("k long, s string, valid_from long, valid_to long")
    hist = spark.createDataFrame(
        [(1, "a", 0, None), (1, "a0", -5, 0),   # k=1: closed + open
         (2, "b", 0, None), (3, "c", 0, None),
         (4, "d", 0, None), (None, "n", 0, None)], hist_schema)
    batch = spark.createDataFrame(
        [(1, "a", 7, False),      # identical payload -> NO-OP
         (2, "B", 7, False),      # changed -> close + append
         (3, "c", 7, True),       # tombstone -> close only
         (9, "i", 7, False),      # new key -> append
         (8, "x", 7, True),       # tombstone for absent key -> no-op
         (None, "N", 7, None)],   # NULL key changed, NULL del flag
        "k long, s string, ver long, del boolean")
    out = {tuple(r) for r in scd2_apply(
        hist, batch, ["k"], "ver", delete_col="del").collect()}
    assert out == {
        (1, "a0", -5, 0), (1, "a", 0, None),          # untouched
        (2, "b", 0, 7), (2, "B", 7, None),            # versioned
        (3, "c", 0, 7),                               # tombstoned
        (4, "d", 0, None),                            # unmatched
        (9, "i", 7, None),                            # inserted
        (None, "n", 0, 7), (None, "N", 7, None)}      # null-safe key

    # fixpoint: replaying the same batch against the NEW history only
    # re-closes nothing (identical payloads no-op; tombstoned /
    # closed rows have no open version to close except k=3 which is
    # gone from the current slice)
    hist2 = spark.createDataFrame(sorted(out, key=str), hist_schema)
    out2 = {tuple(r) for r in scd2_apply(
        hist2, batch.withColumn("ver", F.lit(8).cast("long")),
        ["k"], "ver", delete_col="del").collect()}
    # only the k=9/2/None identical payloads no-op; k=3 tombstone
    # no-ops (no open row); nothing new appended except... nothing
    assert out2 == out

    # monotonic guard: closing with ver <= valid_from raises
    stale = spark.createDataFrame([(2, "Z", 0, False)],
                                  "k long, s string, ver long, del boolean")
    with pytest.raises(Exception, match="non-monotone"):
        scd2_apply(hist, stale, ["k"], "ver",
                   delete_col="del").collect()

    # guards: missing validity column, payload mismatch, ambiguity
    with pytest.raises(ValueError, match="lacks the valid_to"):
        scd2_apply(hist.drop("valid_to"), batch, ["k"], "ver")
    with pytest.raises(ValueError, match="payload columns"):
        scd2_apply(hist, batch.drop("s"), ["k"], "ver",
                   delete_col="del")
    tie = spark.createDataFrame(
        [(2, "p", 5, False), (2, "q", 5, False)],
        "k long, s string, ver long, del boolean")
    with pytest.raises(Exception, match="max version"):
        scd2_apply(hist, tie, ["k"], "ver",
                   delete_col="del").collect()

    # NULL batch version raises loudly (an open row with an undefined
    # interval start would silently wedge every later close)
    nullver = spark.createDataFrame(
        [(77, "nv", None, False)],
        "k long, s string, ver long, del boolean")
    with pytest.raises(Exception, match="NULL batch version"):
        scd2_apply(hist, nullver, ["k"], "ver",
                   delete_col="del").collect()

    # non-integer version / validity columns raise at build time
    with pytest.raises(ValueError, match="integer column"):
        scd2_apply(hist, batch.withColumn("ver", F.col("ver") * 1.5),
                   ["k"], "ver", delete_col="del")
    with pytest.raises(ValueError, match="integer column"):
        scd2_apply(hist.withColumn("valid_from",
                                   F.col("valid_from") * 1.0),
                   batch, ["k"], "ver", delete_col="del")

    # a corrupt current slice (two OPEN rows for one key) raises
    # instead of silently doubling history
    dup_open = hist.unionByName(spark.createDataFrame(
        [(2, "b2", 3, None)], hist_schema))
    with pytest.raises(Exception, match="OPEN rows"):
        scd2_apply(dup_open, batch, ["k"], "ver",
                   delete_col="del").collect()

    # opt-in re-insert check: a version at or below a closed key's
    # tombstone raises; a later version passes
    closed_hist = spark.createDataFrame(
        [(5, "z", 0, 10)], hist_schema)
    stale_ins = spark.createDataFrame(
        [(5, "z2", 4, False)],
        "k long, s string, ver long, del boolean")
    with pytest.raises(Exception, match="re-inserts"):
        scd2_apply(closed_hist, stale_ins, ["k"], "ver",
                   delete_col="del", check_reinserts=True).collect()
    ok_ins = {tuple(r) for r in scd2_apply(
        closed_hist,
        spark.createDataFrame([(5, "z2", 11, False)],
                              "k long, s string, ver long, del boolean"),
        ["k"], "ver", delete_col="del",
        check_reinserts=True).collect()}
    assert ok_ins == {(5, "z", 0, 10), (5, "z2", 11, None)}
    # default mode documents (not guards) the hazard: same stale
    # insert passes without the opt-in scan of closed history
    assert scd2_apply(closed_hist, stale_ins, ["k"], "ver",
                      delete_col="del").count() == 2

    # the r11 false positive: a key with normal SUPERSEDE history
    # (v1 closed at 2, v2 open from 2) replaying its CURRENT state
    # (ver == the last close version, identical payload) is the
    # documented no-op fixpoint — check_reinserts must NOT mistake
    # the supersede close for a tombstone and raise; only keys with
    # no open row are guarded
    sup_hist = spark.createDataFrame(
        [(6, "v1", 0, 2), (6, "v2", 2, None)], hist_schema)
    replay_cur = spark.createDataFrame(
        [(6, "v2", 2, False)],
        "k long, s string, ver long, del boolean")
    fixp = {tuple(r) for r in scd2_apply(
        sup_hist, replay_cur, ["k"], "ver", delete_col="del",
        check_reinserts=True).collect()}
    assert fixp == {(6, "v1", 0, 2), (6, "v2", 2, None)}

    # ...and a TOMBSTONE replay (a delete for the already-tombstoned
    # key at ver == the close version) re-inserts nothing: exempt
    # from the guard, stays the documented absent-key no-op fixpoint
    tomb_replay = spark.createDataFrame(
        [(5, "z", 10, True)],
        "k long, s string, ver long, del boolean")
    fixp_t = {tuple(r) for r in scd2_apply(
        closed_hist, tomb_replay, ["k"], "ver", delete_col="del",
        check_reinserts=True).collect()}
    assert fixp_t == {(5, "z", 0, 10)}


def test_scd2_lookup_point_in_time(spark):
    """Point-in-time enrichment against a versioned history: each
    fact resolves to the single version whose interval contains its
    time — before-first-version and tombstone-gap facts get NULLs,
    open versions match onward, NULL keys match null-safely; the
    guards fire; and the join plans as an equi SortMergeJoin (no
    interval cross-product)."""
    from fstd2pandas_spark.plans.merge import scd2_lookup

    hist = spark.createDataFrame(
        [(1, "v1", 0, 5), (1, "v2", 5, None),   # versioned key
         (2, "x", 0, 3),                        # tombstoned at 3
         (None, "n", 2, None)],                 # NULL key
        "k long, s string, valid_from long, valid_to long")
    facts = spark.createDataFrame(
        [(100, 1, 0), (101, 1, 4), (102, 1, 5), (103, 1, 99),
         (104, 2, 2), (105, 2, 3),              # in / after tombstone
         (106, None, 1), (107, None, 2),        # NULL key pre/post
         (108, 9, 1)],                          # unknown key
        "fid long, k long, t long")
    got = {r["fid"]: r["dim_s"] for r in scd2_lookup(
        facts, hist, ["k"], "t").collect()}
    assert got == {100: "v1", 101: "v1", 102: "v2", 103: "v2",
                   104: "x", 105: None, 106: None, 107: "n",
                   108: None}
    # exactly one output row per fact (the interval invariant means
    # the left join cannot fan out)
    assert scd2_lookup(facts, hist, ["k"], "t").count() == 9

    with pytest.raises(ValueError, match="integer column"):
        scd2_lookup(facts.withColumn("t", F.col("t") * 1.0),
                    hist, ["k"], "t")
    with pytest.raises(ValueError, match="lacks the valid_to"):
        scd2_lookup(facts, hist.drop("valid_to"), ["k"], "t")
    with pytest.raises(ValueError, match="collide with fact"):
        scd2_lookup(facts.withColumn("dim_s", F.lit("c")),
                    hist, ["k"], "t")
    # a prefix entering the internal namespace could shadow a join-key
    # alias and silently drop a dimension — rejected at build time
    with pytest.raises(ValueError, match="namespace"):
        scd2_lookup(facts, hist, ["k"], "t", prefix="_mrg_")
    # hand-built histories must honor the integer clock too
    with pytest.raises(ValueError, match="integer column"):
        scd2_lookup(facts,
                    hist.withColumn("valid_from",
                                    F.col("valid_from") * 1.0),
                    ["k"], "t")
    # a NULL fact clock is a data-quality problem, not a silent
    # NULL-dimensions outcome
    nullt = spark.createDataFrame([(200, 1, None)],
                                  "fid long, k long, t long")
    with pytest.raises(Exception, match="NULL t value"):
        scd2_lookup(nullt, hist, ["k"], "t").collect()

    out = scd2_lookup(facts, hist, ["k"], "t")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_scd2_lookup_agrees_with_asof_join(spark):
    """Two independent in-repo time-travel implementations check each
    other (the r11 order item #7): on a CONTIGUOUS history (every
    close version equals the next open version — scd2_apply builds
    exactly that from payload-change batches, no tombstones), the
    interval join scd2_lookup and the union+window asof_join
    (independently oracle-gated against DuckDB's native ASOF) must
    resolve every fact to the SAME version — boundary times included
    (both give the NEW version at an exact boundary: vf <= at vs
    inclusive backward match), and facts before a key's first version
    resolve NULL in both."""
    from fstd2pandas_spark.operators.temporal import asof_join
    from fstd2pandas_spark.plans.merge import scd2_apply, scd2_lookup

    hist_schema = ("k long, s string, valid_from long, valid_to long")
    hist = spark.createDataFrame([], hist_schema)
    for ver in (10, 20, 30):
        batch = spark.createDataFrame(
            [(k, f"v{ver}_{k}", ver, False) for k in range(10)],
            "k long, s string, ver long, del boolean")
        hist = spark.createDataFrame(
            scd2_apply(hist, batch, ["k"], "ver",
                       delete_col="del").collect(), hist_schema)

    facts = spark.createDataFrame(
        [(k, at) for k in range(10)
         for at in (5, 10, 15, 20, 25, 30, 35)],
        "k long, at long")
    via_lookup = {(r["k"], r["at"]): r["dim_s"] for r in scd2_lookup(
        facts, hist, ["k"], "at").collect()}
    via_asof = {(r["k"], r["at"]): r["asof_s"] for r in asof_join(
        facts, hist.select("k", "valid_from", "s"), on="at",
        right_on="valid_from", by="k", right_cols=["s"]).collect()}
    assert len(via_lookup) == 70 and via_lookup == via_asof
    # spot-pin the semantics both must share
    assert via_lookup[(0, 5)] is None          # before first version
    assert via_lookup[(0, 10)] == "v10_0"      # boundary -> NEW version
    assert via_lookup[(0, 20)] == "v20_0"
    assert via_lookup[(0, 35)] == "v30_0"      # open row


def test_merge_upsert_randomized_model(spark):
    """Property-style check against an independent Python reference
    model: 40 seeded-random scenarios (random key overlap, multi-
    version batches with unique versions, tombstones incl. NULL flags,
    NULL keys and NULL payloads) packed into ONE merge via a
    (scenario, k) compound key — exercising the multi-column key path
    — must reproduce the model's final table exactly."""
    import random

    from fstd2pandas_spark.plans.merge import merge_upsert

    rng = random.Random(11)
    tgt_rows, src_rows, expect = [], [], set()
    for sc in range(40):
        keys = [None if rng.random() < 0.15 else k for k in
                rng.sample(range(8), rng.randint(1, 6))]
        tgt = {k: (f"t{sc}_{k}", rng.randint(0, 99)
                   if rng.random() < 0.9 else None) for k in keys}
        for k, (s, v) in tgt.items():
            tgt_rows.append((sc, k, s, v))
        src = {}
        for k in list(tgt) + [10, 11]:
            if rng.random() < 0.6:
                vers = rng.sample(range(10), rng.randint(1, 3))
                src[k] = [(f"s{sc}_{k}_{ver}",
                           rng.randint(0, 99)
                           if rng.random() < 0.85 else None,
                           ver,
                           rng.choice([True, False, None]))
                          for ver in vers]
                for s, v, ver, dele in src[k]:
                    src_rows.append((sc, k, s, v, ver, dele))
        for k in set(tgt) | set(src):
            if k in src:
                s, v, _, dele = max(src[k], key=lambda r: r[2])
                if dele is not True:
                    expect.add((sc, k, s, v))
            else:
                s, v = tgt[k]
                expect.add((sc, k, s, v))

    t = spark.createDataFrame(tgt_rows,
                              "sc long, k long, s string, v long")
    s = spark.createDataFrame(
        src_rows, "sc long, k long, s string, v long, ver long, "
                  "del boolean")
    got = {(r["sc"], r["k"], r["s"], r["v"]) for r in merge_upsert(
        t, s, ["sc", "k"], version_col="ver",
        delete_col="del").collect()}
    assert got == expect


def test_scd2_apply_randomized_model(spark):
    """Property-style check against an independent Python interval
    model — the coverage whose absence let the r11 check_reinserts
    false positive through: 30 seeded scenarios packed into ONE
    frame via a (scenario, k) compound key, each applying THREE
    sequential batches (random mix of inserts, payload changes,
    exact replays of the current state, tombstones, post-tombstone
    re-inserts, absent-key tombstones, NULL keys/payloads/delete
    flags, and within-batch multi-version rows resolved latest-wins)
    starting from an EMPTY history. The full final history must
    equal the model's — with check_reinserts OFF and ON (versions
    are strictly increasing across batches, so every re-insert in
    the generated stream is legitimate and the guard must stay
    silent)."""
    import random

    from fstd2pandas_spark.plans.merge import scd2_apply

    rng = random.Random(12)
    n_batches = 3
    batches = [[] for _ in range(n_batches)]
    # model state: (sc, k) -> list of [s, v, vf, vt]
    model = {}

    def model_open(kk):
        rows = model.get(kk, [])
        op = [r for r in rows if r[3] is None]
        return op[0] if op else None

    for sc in range(30):
        keys = [None] + list(range(5))
        for b in range(n_batches):
            base = 10 * (b + 1)
            # generate this scenario's slice of batch b against the
            # model's CURRENT state (so "replay" really replays the
            # pre-batch open row, incl. one opened two batches ago)
            brows = []
            for k in keys:
                if rng.random() >= 0.55:
                    continue
                cur = model_open((sc, k))
                roll = rng.random()
                ver = base + rng.randint(0, 1)
                if roll < 0.2:
                    # tombstone (on an open key: close; on an absent
                    # or already-tombstoned key: no-op)
                    brows.append((sc, k, f"d{sc}_{b}", 0, ver, True))
                elif roll < 0.4 and cur is not None:
                    # exact replay of the current open state — the
                    # idempotent no-op class (incl. ver == vf, the
                    # r11 false-positive shape once closed history
                    # exists underneath)
                    brows.append((sc, k, cur[0], cur[1],
                                  rng.choice([cur[2], ver]),
                                  rng.choice([False, None])))
                else:
                    s = (None if rng.random() < 0.1
                         else f"s{sc}_{k}_{b}_{rng.randint(0, 9)}")
                    v = (None if rng.random() < 0.15
                         else rng.randint(0, 99))
                    brows.append((sc, k, s, v, ver, False))
                    if rng.random() < 0.25:
                        # second row, distinct higher version —
                        # latest-wins resolution must pick it
                        brows.append((sc, k, f"w{sc}_{k}_{b}",
                                      rng.randint(0, 99),
                                      ver + 2, False))
            batches[b].extend(brows)
            # drive the model on batch b: latest-wins resolution,
            # then the SCD2 transition per winner
            winners = {}
            for _, k, s, v, ver, dele in brows:
                w = winners.get(k)
                if w is None or ver > w[2]:
                    winners[k] = (s, v, ver, dele)
            for k, (s, v, ver, dele) in winners.items():
                kk = (sc, k)
                cur = model_open(kk)
                if dele is True:
                    if cur is not None:
                        cur[3] = ver
                elif cur is None:
                    model.setdefault(kk, []).append([s, v, ver, None])
                elif (cur[0], cur[1]) != (s, v):
                    cur[3] = ver
                    model[kk].append([s, v, ver, None])

    expect = {(sc, k, r[0], r[1], r[2], r[3])
              for (sc, k), rows in model.items() for r in rows}

    hist_schema = ("sc long, k long, s string, v long, "
                   "valid_from long, valid_to long")
    for check in (False, True):
        hist = spark.createDataFrame([], hist_schema)
        for b in range(n_batches):
            bdf = spark.createDataFrame(
                batches[b],
                "sc long, k long, s string, v long, ver long, "
                "del boolean")
            hist = scd2_apply(hist, bdf, ["sc", "k"], "ver",
                              delete_col="del", check_reinserts=check)
            # materialize between batches — each apply feeds the next
            hist = spark.createDataFrame(hist.collect(), hist_schema)
        got = {tuple(r) for r in hist.collect()}
        assert got == expect, f"check_reinserts={check}"


def test_grouped_quality_report(spark):
    """Per-group rules: violation counts computed within each stratum
    (incl. a NULL group key), strict mode raising on the first bad
    stratum while clean strata pass, the single-pass plan, and the
    guards."""
    from fstd2pandas_spark.operators.validation import (
        grouped_quality_report)

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", None), ("b", 5), ("b", 6),
         (None, 9)],
        "g string, v long")
    rules = [("nn", "v", "not_null"), ("mx", "v", "max", 5)]
    got = {(r["g"], r["name"]): (r["n_rows"], r["n_violations"],
                                 r["passed"])
           for r in grouped_quality_report(df, ["g"], rules).collect()}
    assert got == {
        ("a", "nn"): (3, 1, False), ("a", "mx"): (3, 0, True),
        ("b", "nn"): (2, 0, True), ("b", "mx"): (2, 1, False),
        (None, "nn"): (1, 0, True), (None, "mx"): (1, 1, False)}

    # strict: a clean stratum-wide rule set passes, any bad one raises
    clean = grouped_quality_report(
        df.filter("v IS NOT NULL AND v <= 5"), ["g"],
        [("nn", "v", "not_null")], strict=True).collect()
    assert all(r["passed"] for r in clean)
    with pytest.raises(Exception, match="strict mode"):
        grouped_quality_report(df, ["g"], rules, strict=True).collect()

    # the strict raise NAMES the offending stratum (r11 finding #2):
    # the group-key values ride into the in-plan message, with a NULL
    # group key spelled out as the literal 'NULL' (concat_ws would
    # silently skip it and misreport the stratum)
    with pytest.raises(Exception, match=r"in stratum \(b\)"):
        grouped_quality_report(df.filter("g = 'b'"), ["g"], rules,
                               strict=True).collect()
    with pytest.raises(Exception, match=r"in stratum \(NULL\)"):
        grouped_quality_report(df.filter("g IS NULL"), ["g"], rules,
                               strict=True).collect()
    # ungrouped strict keeps the stratum-free message shape
    from fstd2pandas_spark.operators.validation import (
        table_quality_report)
    with pytest.raises(Exception, match=r"violations \(strict mode\)"):
        table_quality_report(df, rules, strict=True).collect()

    with pytest.raises(ValueError, match="group column"):
        grouped_quality_report(df, [], rules)
    with pytest.raises(ValueError, match="output names"):
        grouped_quality_report(df.withColumnRenamed("g", "passed"),
                               ["passed"], rules)
    # a group column entering the internal _qr_* namespace gets the
    # crisp reserved-name ValueError, not an opaque
    # ambiguous-reference AnalysisException (r11 finding #3)
    with pytest.raises(ValueError, match="_qr_"):
        grouped_quality_report(df.withColumnRenamed("g", "_qr_n"),
                               ["_qr_n"], rules)

    # still a single pass over the facts
    rep = grouped_quality_report(df, ["g"], rules)
    rep.collect()
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[-1] \
        .count("Scan ExistingRDD") == 1


def test_merge_family_adoption_guards(spark):
    """The guards a table NOT built by this suite needs (the review's
    adoption-path class): (a) a STRING version column orders
    lexicographically ('9' > '10'), so latest-wins would silently
    apply STALE rows — refused at call time; (b) a duplicate-key
    target fans out through the merge join and every batch amplifies
    it — check_target_unique=True raises in-plan naming the key;
    (c) a hand-built SCD2 history with OVERLAPPING intervals would
    silently duplicate every matching fact in scd2_lookup — raises
    in-plan; (d) misspelled key/version/delete columns fail as crisp
    ValueErrors at call time, not opaque AnalysisExceptions deep in
    the plan; (e) composite-key error messages spell NULL key parts
    as 'NULL' instead of concat_ws silently dropping them."""
    from fstd2pandas_spark.plans.merge import (merge_upsert,
                                               scd2_lookup)

    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, s string, v long")

    # (a) string version refused (the '9' > '10' trap)
    s_str = spark.createDataFrame(
        [(1, "x", 1, "9", False), (1, "y", 2, "10", False)],
        "k long, s string, v long, ver string, del boolean")
    with pytest.raises(ValueError, match="lexicographically"):
        merge_upsert(tgt, s_str, ["k"], version_col="ver",
                     delete_col="del")
    # timestamps are a legitimately ordered clock and stay allowed
    s_ts = spark.sql("""
        SELECT CAST(1 AS LONG) k, 'x' s, CAST(9 AS LONG) v,
               TIMESTAMP'2024-01-02 00:00:00' ver, false del""")
    out = merge_upsert(tgt, s_ts, ["k"], version_col="ver",
                       delete_col="del")
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, 9), (2, 20)}

    # (b) duplicate-key target amplification, refused in-plan
    dup_tgt = tgt.unionByName(spark.createDataFrame(
        [(1, "a2", 11)], "k long, s string, v long"))
    src = spark.createDataFrame(
        [(1, "u", 99, 1, False)],
        "k long, s string, v long, ver long, del boolean")
    with pytest.raises(Exception, match="amplifies"):
        merge_upsert(dup_tgt, src, ["k"], version_col="ver",
                     delete_col="del",
                     check_target_unique=True).collect()
    # default stays lean (no guard, documented) and the unique target
    # passes WITH the guard
    assert merge_upsert(tgt, src, ["k"], version_col="ver",
                        delete_col="del",
                        check_target_unique=True).count() == 2

    # (c) overlapping hand-built history duplicates facts — refused
    hist_bad = spark.createDataFrame(
        [(1, "v1", 1, 10),        # [1, 10) ...
         (1, "v2", 5, None)],     # ... but v2 opens at 5: overlap
        "k long, s string, valid_from long, valid_to long")
    facts = spark.createDataFrame([(1, 7)], "k long, t long")
    with pytest.raises(Exception, match="OVERLAP"):
        scd2_lookup(facts, hist_bad, ["k"], "t").collect()
    # an open row that is not the last version is the same corruption
    hist_bad2 = spark.createDataFrame(
        [(1, "v1", 1, None), (1, "v2", 5, None)],
        "k long, s string, valid_from long, valid_to long")
    with pytest.raises(Exception, match="OVERLAP"):
        scd2_lookup(facts, hist_bad2, ["k"], "t").collect()
    # contiguous + gap histories still pass
    hist_ok = spark.createDataFrame(
        [(1, "v1", 1, 5), (1, "v2", 7, None)],
        "k long, s string, valid_from long, valid_to long")
    got = scd2_lookup(facts, hist_ok, ["k"], "t").collect()
    assert [r["dim_s"] for r in got] == ["v2"]

    # (d) crisp fail-at-call on misspelled columns
    with pytest.raises(ValueError, match="not in the source"):
        merge_upsert(tgt, src, ["k"], version_col="vrsn")
    with pytest.raises(ValueError, match="not in the target"):
        merge_upsert(tgt.drop("k").withColumnRenamed("s", "kk"),
                     src, ["k"], version_col="ver")
    with pytest.raises(ValueError, match="not in the facts"):
        scd2_lookup(facts, hist_ok, ["k"], "ts")

    # (e) NULL key parts spelled literally in the in-plan messages
    tie = spark.createDataFrame(
        [(None, 2, "x", 1, 5, False), (None, 2, "y", 2, 5, False)],
        "a long, b long, s string, v long, ver long, del boolean")
    t2 = spark.createDataFrame([(None, 2, "o", 0)],
                               "a long, b long, s string, v long")
    with pytest.raises(Exception, match=r"NULL, 2"):
        merge_upsert(t2, tie, ["a", "b"], version_col="ver",
                     delete_col="del").collect()

    # (f) a floating-point NaN version orders GREATER than every
    # number in Spark, so it would silently WIN latest-wins — the
    # in-plan guard catches it on the same load-bearing flag as NULL
    s_nan = spark.createDataFrame(
        [(1, "x", 1, float("nan"), False), (1, "y", 2, 1.0, False)],
        "k long, s string, v long, ver double, del boolean")
    with pytest.raises(Exception, match="NaN"):
        merge_upsert(tgt, s_nan, ["k"], version_col="ver",
                     delete_col="del").collect()
    # ...while a well-formed double clock stays allowed (epoch
    # seconds are a legitimate CDC sequence)
    s_f = spark.createDataFrame(
        [(1, "x", 7, 1.5, False), (1, "y", 9, 2.5, False)],
        "k long, s string, v long, ver double, del boolean")
    out_f = merge_upsert(tgt, s_f, ["k"], version_col="ver",
                         delete_col="del")
    assert {(r["k"], r["v"]) for r in out_f.collect()} \
        == {(1, 9), (2, 20)}

    # (g) two history versions SHARING a valid_from: the overlap
    # window's (valid_from, valid_to) tiebreak makes the reported
    # interval pair deterministic — the row with the smaller valid_to
    # sees the duplicate start as its successor
    hist_tie = spark.createDataFrame(
        [(1, "v1", 5, 8), (1, "v2", 5, None)],
        "k long, s string, valid_from long, valid_to long")
    with pytest.raises(Exception,
                       match=r"version at 5.*opens at 5"):
        scd2_lookup(facts, hist_tie, ["k"], "t").collect()


def test_scd2_apply_schema_evolution(spark):
    """scd2_apply(new_columns='add'): the history schema gains the
    batch's extra column (batch type; every existing row — open AND
    closed — reads NULL). Change detection composes: a batch row whose
    ONLY difference is a non-NULL value in the new column closes and
    appends; one that is NULL there no-ops. Dropping history columns
    stays an error; the default mode refuses drift and points at the
    knob."""
    from fstd2pandas_spark.plans.merge import scd2_apply

    hist = spark.createDataFrame(
        [(1, "a", 0, 5),        # closed version
         (1, "a2", 5, None),    # open version
         (2, "b", 0, None)],    # open, will no-op
        "k long, s string, valid_from long, valid_to long")
    batch = spark.createDataFrame(
        [(1, "a2", 0.9, 7, False),   # same s, NEW col set -> closes
         (2, "b", None, 7, False)],  # identical incl. NULL -> no-op
        "k long, s string, score double, _v long, del boolean")

    out = scd2_apply(hist, batch, ["k"], "_v", delete_col="del",
                     new_columns="add")
    assert set(out.columns) == {"k", "s", "score",
                                "valid_from", "valid_to"}
    got = {(r["k"], r["s"], r["score"], r["valid_from"], r["valid_to"])
           for r in out.collect()}
    assert got == {
        (1, "a", None, 0, 5),     # closed history: new col NULL
        (1, "a2", None, 5, 7),    # closed BY the batch (score moved)
        (1, "a2", 0.9, 7, None),  # the new open version
        (2, "b", None, 0, None)}  # no-op: NULL == NULL, untouched

    with pytest.raises(ValueError, match="lacks history columns"):
        scd2_apply(hist, batch.drop("s"), ["k"], "_v",
                   delete_col="del", new_columns="add")
    with pytest.raises(ValueError, match="new_columns='add'"):
        scd2_apply(hist, batch, ["k"], "_v", delete_col="del")
    with pytest.raises(ValueError, match="new_columns must be"):
        scd2_apply(hist, batch, ["k"], "_v", delete_col="del",
                   new_columns="auto")


def test_change_feed(spark):
    """plans/merge.py change_feed — the Delta CDF read computed by
    snapshot diff: insert (post image), delete (pre image),
    update_preimage/update_postimage PAIR when the payload differs
    null-safely; unchanged keys (including NULL-key rows and
    NULL-vs-NULL payload cells) emit NOTHING. Evolution-aligned: a
    column only one side has compares as NULL on the other, so a
    pre-evolution row is unchanged. Round-trip: applying the feed's
    post-images + deletes through merge_upsert reproduces `new`."""
    from fstd2pandas_spark.plans.merge import change_feed, merge_upsert

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (None, "n", 40),
         (5, "e", 50)],
        "k long, s string, v long")
    new = spark.createDataFrame(
        [(1, "a", 10),          # unchanged
         (2, "b", 22),          # NULL -> value: update
         (4, "d", 44),          # insert
         (None, "n", 40),       # NULL key, unchanged
         (5, None, 50)],        # value -> NULL: update; 3 deleted
        "k long, s string, v long")
    feed = change_feed(old, new, ["k"])
    assert feed.columns == ["k", "s", "v", "_change_type"]
    got = {(r["k"], r["s"], r["v"], r["_change_type"])
           for r in feed.collect()}
    assert got == {
        (2, "b", None, "update_preimage"),
        (2, "b", 22, "update_postimage"),
        (4, "d", 44, "insert"),
        (3, "c", 30, "delete"),
        (5, "e", 50, "update_preimage"),
        (5, None, 50, "update_postimage")}

    # round-trip: feed applied to `old` lands exactly on `new`
    post = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")) \
        .select("k", "s", "v").withColumn("_del", F.lit(False))
    dels = feed.filter(F.col("_change_type") == "delete") \
        .select("k", "s", "v").withColumn("_del", F.lit(True))
    replayed = merge_upsert(old, post.unionByName(dels), ["k"],
                            delete_col="_del")
    assert {tuple(r) for r in replayed.collect()} == \
        {tuple(r) for r in new.collect()}

    # evolution alignment: `new` carries an extra column; a row whose
    # values are otherwise identical and NULL there is unchanged
    new2 = spark.createDataFrame(
        [(1, "a", 10, None), (3, "c", 30, 0.5)],
        "k long, s string, v long, score double")
    old2 = spark.createDataFrame(
        [(1, "a", 10), (3, "c", 30)], "k long, s string, v long")
    f2 = {(r["k"], r["_change_type"], r["score"])
          for r in change_feed(old2, new2, ["k"]).collect()}
    assert f2 == {(3, "update_preimage", None),
                  (3, "update_postimage", 0.5)}

    # keys-only table: presence IS identity — inserts/deletes only
    ko = change_feed(
        spark.createDataFrame([(1,), (2,)], "k long"),
        spark.createDataFrame([(2,), (3,)], "k long"), ["k"])
    assert {(r["k"], r["_change_type"]) for r in ko.collect()} == \
        {(1, "delete"), (3, "insert")}

    # guards
    with pytest.raises(ValueError, match="_change_type"):
        change_feed(old.withColumn("_change_type", F.lit("x")),
                    new.withColumn("_change_type", F.lit("x")), ["k"])
    with pytest.raises(ValueError, match="missing from a snapshot"):
        change_feed(old, new, ["nope"])
    with pytest.raises(ValueError, match="at least one key"):
        change_feed(old, new, [])
    # dropping a column is never evolution — it would fabricate a
    # phantom set-NULL update pair for EVERY row (also catches swapped
    # old/new arguments across an evolution boundary)
    with pytest.raises(ValueError, match="dropped column"):
        change_feed(old, new.drop("v"), ["k"])
    with pytest.raises(ValueError, match="dropped column"):
        change_feed(new2, old2, ["k"])   # swapped evolution pair
    # duplicate keys would fan out through the diff join into a
    # silently wrong feed — in-plan raise on either side
    dup = old.unionByName(
        spark.createDataFrame([(1, "zz", 99)], "k long, s string, v long"))
    with pytest.raises(Exception, match="duplicate key in the old"):
        change_feed(dup, new, ["k"]).collect()
    with pytest.raises(Exception, match="duplicate key in the new"):
        change_feed(old, dup, ["k"]).collect()


def test_change_feed_randomized_model(spark):
    """Seeded randomized reference-model test (the merge/scd2 model
    convention): 40 scenarios of key-unique snapshot pairs — inserts,
    deletes, value changes, NULL<->value transitions in either
    direction, NULL keys, identical rows — packed into ONE frame via
    compound (scenario, key) keys and diffed in ONE change_feed call;
    the full feed must equal an independent Python dict-diff, and
    replaying every scenario's feed through merge_upsert must land on
    its `new` snapshot exactly."""
    import random

    from fstd2pandas_spark.plans.merge import change_feed, merge_upsert

    rng = random.Random(20260815)
    olds, news, expect = [], [], set()
    for sc in range(40):
        keys = list(range(rng.randint(0, 8))) + [None]
        old = {k: (rng.choice(["a", "b", None]),
                   rng.choice([1, 2, None])) for k in keys
               if rng.random() < 0.8}
        new = {}
        for k in keys:
            r = rng.random()
            if r < 0.35:              # keep identical if present
                if k in old:
                    new[k] = old[k]
            elif r < 0.75:            # (re)write possibly-changed
                new[k] = (rng.choice(["a", "b", "c", None]),
                          rng.choice([1, 2, 3, None]))
            # else: absent from new (delete if it was in old)
        olds += [(sc, k, s, v) for k, (s, v) in old.items()]
        news += [(sc, k, s, v) for k, (s, v) in new.items()]
        for k in set(old) | set(new):
            if k in old and k not in new:
                expect.add((sc, k, *old[k], "delete"))
            elif k in new and k not in old:
                expect.add((sc, k, *new[k], "insert"))
            elif old[k] != new[k]:
                expect.add((sc, k, *old[k], "update_preimage"))
                expect.add((sc, k, *new[k], "update_postimage"))

    schema = "sc long, k long, s string, v long"
    feed = change_feed(spark.createDataFrame(olds, schema),
                       spark.createDataFrame(news, schema),
                       ["sc", "k"])
    got = {(r["sc"], r["k"], r["s"], r["v"], r["_change_type"])
           for r in feed.collect()}
    assert got == expect

    # replay closes the loop: feed applied to old == new, per scenario
    # (one merge over the packed frame, compound keys keep scenarios
    # independent)
    replay_src = (feed.filter(
        F.col("_change_type") != "update_preimage")
        .withColumn("_del", F.col("_change_type") == "delete")
        .drop("_change_type"))
    replayed = merge_upsert(spark.createDataFrame(olds, schema),
                            replay_src, ["sc", "k"], delete_col="_del")
    assert {tuple(r) for r in replayed.collect()} == set(news)


def test_merge_upsert_schema_evolution(spark):
    """new_columns='add' (the Delta mergeSchema semantics, opt-in):
    extra source payload columns are APPENDED to the target schema
    with the source's types; rows the batch does not touch read NULL
    there (what a column that did not exist when the row was written
    means), updates and inserts take the source values, tombstones
    still delete. Equivalent by construction to manually widening the
    target first (pinned). Source columns MISSING from the target stay
    an error under either mode (whole-row replacement cannot fabricate
    values), the default mode still refuses extra columns loudly, and
    a bogus mode string is rejected at call time."""
    from fstd2pandas_spark.plans.merge import merge_upsert

    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long")
    src = spark.createDataFrame(
        [(1, "a2", 11, 0.5, 2, False),    # update carries the new col
         (2, None, 0, None, 2, True),     # tombstone
         (9, "i", 90, 0.9, 1, False)],    # insert carries the new col
        "k long, s string, v long, score double, ver long, del boolean")

    out = merge_upsert(tgt, src, ["k"], version_col="ver",
                       delete_col="del", new_columns="add")
    assert out.columns == ["k", "s", "v", "score"]   # appended last
    assert dict(out.dtypes)["score"] == "double"     # source's type
    rows = {r["k"]: (r["s"], r["v"], r["score"]) for r in out.collect()}
    assert rows == {1: ("a2", 11, 0.5),   # updated, new col set
                    3: ("c", 30, None),   # untouched, new col NULL
                    9: ("i", 90, 0.9)}    # inserted; 2 tombstoned

    # equivalence: evolution == manually widening the target first
    manual = merge_upsert(
        tgt.withColumn("score", F.lit(None).cast("double")),
        src, ["k"], version_col="ver", delete_col="del")
    assert {tuple(r) for r in manual.collect()} == \
        {tuple(r) for r in out.collect()}

    # the default mode still refuses drift loudly
    with pytest.raises(ValueError, match="payload columns"):
        merge_upsert(tgt, src, ["k"], version_col="ver",
                     delete_col="del")
    # dropping a target column is never evolution
    with pytest.raises(ValueError, match="lacks target columns"):
        merge_upsert(tgt, src.drop("v"), ["k"], version_col="ver",
                     delete_col="del", new_columns="add")
    with pytest.raises(ValueError, match="new_columns"):
        merge_upsert(tgt, src, ["k"], version_col="ver",
                     delete_col="del", new_columns="merge")


def test_merge_upsert_semantics(spark):
    """Exact SQL-MERGE semantics: latest-wins by version across a
    multi-version batch, set-NULL updates (presence flag, not value
    non-nullness), tombstone deletes, inserts, NULL-key rows matching
    null-safely, pass-through untouched rows; ambiguous batches —
    (key, max version) ties or versionless duplicate keys — raise
    in-plan, and the schema/reserved-name guards fire."""
    from fstd2pandas_spark.plans.merge import merge_upsert

    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (None, "n", 40)],
        "k long, s string, v long")
    src = spark.createDataFrame(
        [(1, "a1", 11, 1, False),     # superseded by version 2
         (1, "a2", None, 2, False),   # winner: set-NULL update
         (2, None, 99, 1, True),      # tombstone
         (9, "i", 90, 1, False),      # insert
         (None, "N", 44, 1, False)],  # NULL-key update (null-safe)
        "k long, s string, v long, ver long, del boolean")
    out = {(r["k"], r["s"], r["v"]) for r in merge_upsert(
        tgt, src, ["k"], version_col="ver",
        delete_col="del").collect()}
    assert out == {(1, "a2", None), (3, "c", 30), (9, "i", 90),
                   (None, "N", 44)}

    # a NULL tombstone flag means NOT deleted (the contract) — the
    # row must apply as a normal upsert, not vanish via 3VL
    srcn = spark.createDataFrame([(3, "cN", 35, 1, None)],
                                 "k long, s string, v long, ver long, del boolean")
    outn = {(r["k"], r["s"], r["v"]) for r in merge_upsert(
        tgt, srcn, ["k"], version_col="ver",
        delete_col="del").collect()}
    assert (3, "cN", 35) in outn and len(outn) == 4

    # no version column: a key-unique batch applies, duplicates raise
    src1 = spark.createDataFrame([(3, "c9", 33, False)],
                                 "k long, s string, v long, del boolean")
    out1 = {(r["k"], r["s"], r["v"]) for r in merge_upsert(
        tgt, src1, ["k"], delete_col="del").collect()}
    assert (3, "c9", 33) in out1 and len(out1) == 4
    dup = spark.createDataFrame(
        [(3, "x", 1, False), (3, "y", 2, False)],
        "k long, s string, v long, del boolean")
    with pytest.raises(Exception, match="duplicate keys"):
        merge_upsert(tgt, dup, ["k"], delete_col="del").collect()
    tie = spark.createDataFrame(
        [(3, "x", 1, 5, False), (3, "y", 2, 5, False)],
        "k long, s string, v long, ver long, del boolean")
    with pytest.raises(Exception, match="max version"):
        merge_upsert(tgt, tie, ["k"], version_col="ver",
                     delete_col="del").collect()
    # at-least-once replay: EXACT duplicate rows are idempotent, not
    # ambiguous — they collapse and the merge applies cleanly (both
    # with and without a version column)
    replay = spark.createDataFrame(
        [(3, "r", 77, 5, False), (3, "r", 77, 5, False)],
        "k long, s string, v long, ver long, del boolean")
    outr = {(r["k"], r["s"], r["v"]) for r in merge_upsert(
        tgt, replay, ["k"], version_col="ver",
        delete_col="del").collect()}
    assert (3, "r", 77) in outr and len(outr) == 4
    replay_nv = spark.createDataFrame(
        [(3, "r", 78, False), (3, "r", 78, False)],
        "k long, s string, v long, del boolean")
    assert (3, "r", 78) in {(r["k"], r["s"], r["v"]) for r in
                            merge_upsert(tgt, replay_nv, ["k"],
                                         delete_col="del").collect()}

    # a key whose only rows carry a NULL version would win resolution
    # with an undefined CDC position — raises in-plan (the scd2
    # mirror); a NULL version LOSING to a non-NULL one is fine
    nullv = spark.createDataFrame(
        [(3, "nv", 1, None, False)],
        "k long, s string, v long, ver long, del boolean")
    with pytest.raises(Exception, match="NULL version"):
        merge_upsert(tgt, nullv, ["k"], version_col="ver",
                     delete_col="del").collect()
    mixv = spark.createDataFrame(
        [(3, "nv", 1, None, False), (3, "ok", 2, 5, False)],
        "k long, s string, v long, ver long, del boolean")
    assert (3, "ok", 2) in {(r["k"], r["s"], r["v"]) for r in
                            merge_upsert(tgt, mixv, ["k"],
                                         version_col="ver",
                                         delete_col="del").collect()}

    # guards: schema mismatch, reserved prefix, empty keys
    with pytest.raises(ValueError, match="payload columns"):
        merge_upsert(tgt, src.drop("s"), ["k"],
                     version_col="ver", delete_col="del")
    bad = spark.createDataFrame([(1, "a", 10, 7)],
                                "k long, s string, v long, _mrg_x long")
    with pytest.raises(ValueError, match="_mrg_"):
        merge_upsert(bad, src, ["k"], version_col="ver",
                     delete_col="del")
    with pytest.raises(ValueError, match="key column"):
        merge_upsert(tgt, src, [], version_col="ver")


def test_histogram_sketch_exact_and_quantile(spark):
    """Counts equal a pure-Python rebuild (same least/floor clamp),
    merge equals a direct coarser build EXACTLY, the quantile estimate
    matches the hand-interpolated formula, and the guards fire."""
    import math

    from fstd2pandas_spark.operators.sketch import (
        histogram_merge, histogram_quantile, histogram_sketch)

    lo, hi, nb = 0.0, 8.0, 4          # step 2.0
    rows = [("a", "d1", -1.0), ("a", "d1", 0.0), ("a", "d1", 1.9),
            ("a", "d1", 2.0), ("a", "d2", 7.99), ("a", "d2", 8.0),
            ("a", "d2", 9.5), ("a", "d2", None), ("b", "d1", 3.0),
            ("b", "d1", 3.5), ("b", "d1", 5.0)]
    df = spark.createDataFrame(rows, "g string, day string, x double")

    def ref(vals):
        under = sum(1 for v in vals if v is not None and v < lo)
        over = sum(1 for v in vals if v is not None and v >= hi)
        hist = [0] * nb
        for v in vals:
            if v is not None and lo <= v < hi:
                hist[min(int(math.floor((v - lo) / 2.0)), nb - 1)] += 1
        return under, over, hist

    sk = histogram_sketch(df, "x", lo, hi, nb, ["g", "day"])
    got = {(r["g"], r["day"]): (r["n_under"], r["n_over"],
                                list(r["hist"]))
           for r in sk.collect()}
    for (g, d) in {("a", "d1"), ("a", "d2"), ("b", "d1")}:
        vals = [x for gg, dd, x in rows if (gg, dd) == (g, d)]
        assert got[(g, d)] == ref(vals), (g, d)

    # merge to per-g equals a direct per-g build, exactly
    merged = {r["g"]: (r["n_under"], r["n_over"], list(r["hist"]))
              for r in histogram_merge(sk, ["g"]).collect()}
    direct = {r["g"]: (r["n_under"], r["n_over"], list(r["hist"]))
              for r in histogram_sketch(df, "x", lo, hi, nb,
                                        ["g"]).collect()}
    assert merged == direct

    # quantile: group b (3.0, 3.5, 5.0) -> hist [0, 2, 1, 0], n=3;
    # q=0.5 -> t=2 -> bin 1 (cums [0,2,3]) -> 0 + 2*(1 + (2-0)/2) =
    # 4.0; q=1.0 -> t=3 -> bin 2 -> 2*(2 + (3-2)/1) = 6.0
    hq = {r["g"]: r["hq"] for r in histogram_quantile(
        histogram_sketch(df, "x", lo, hi, nb, ["g"]),
        0.5, lo, hi, nb).collect()}
    assert hq["b"] == 4.0
    hq1 = {r["g"]: r["hq"] for r in histogram_quantile(
        histogram_sketch(df, "x", lo, hi, nb, ["g"]),
        1.0, lo, hi, nb).collect()}
    assert hq1["b"] == 6.0

    # no in-range rows -> NULL estimate, not NaN
    only_out = spark.createDataFrame([("z", -5.0), ("z", 99.0)],
                                     "g string, x double")
    r0 = histogram_quantile(
        histogram_sketch(only_out, "x", lo, hi, nb, ["g"]),
        0.5, lo, hi, nb).collect()[0]
    assert r0["hq"] is None and r0["n_under"] == 1 and r0["n_over"] == 1

    # guards: bin ceiling, inverted bounds, claimed-nbins mismatch
    with pytest.raises(ValueError, match="MAX_HIST_BINS"):
        histogram_sketch(df, "x", lo, hi, 10_000, ["g"])
    with pytest.raises(ValueError, match="lo < hi"):
        histogram_sketch(df, "x", 5.0, 5.0, 4, ["g"])
    with pytest.raises(Exception, match="claimed"):
        histogram_quantile(sk, 0.5, lo, hi, nb + 1).collect()

    # a NULL group-key value merges like any other key (no equi-join
    # that would silently drop it): merge == direct build still
    ndf = spark.createDataFrame(
        [(None, "d1", 1.0), (None, "d2", 3.0), ("b", "d1", 5.0)],
        "g string, day string, x double")
    nsk = histogram_sketch(ndf, "x", lo, hi, nb, ["g", "day"])
    nmerged = {r["g"]: (r["n_under"], r["n_over"], list(r["hist"]))
               for r in histogram_merge(nsk, ["g"]).collect()}
    ndirect = {r["g"]: (r["n_under"], r["n_over"], list(r["hist"]))
               for r in histogram_sketch(ndf, "x", lo, hi, nb,
                                         ["g"]).collect()}
    assert None in nmerged and nmerged == ndirect

    # a NULL hist row (outer-joined roster) -> NULL estimate, no raise
    roster = spark.createDataFrame([("b",), ("missing",)], "g string")
    outer = roster.join(histogram_sketch(df, "x", lo, hi, nb, ["g"]),
                        "g", "left")
    oq = {r["g"]: r["hq"] for r in
          histogram_quantile(outer, 0.5, lo, hi, nb).collect()}
    assert oq["b"] == 4.0 and oq["missing"] is None

    # ...but a NULL hist entering a MERGE raises in-plan instead of
    # silently vanishing the group (posexplode of NULL emits no rows)
    with pytest.raises(Exception, match="NULL hist"):
        histogram_merge(outer, ["g"]).collect()


def test_sketch_review_guards(spark):
    """sketch.py review pins: (a) a NULL or negative Count-Min weight
    raises in-plan — a NULL was silently SKIPPED by the sum (an
    undercount, the one direction the sketch must never err) and a
    negative weight breaks the overcount-only invariant; (b)
    histogram_merge refuses a group mixing sketches of different bin
    counts (the tail bins merged from fewer inputs — a silently
    half-merged histogram); (c) hll_merge: per-register GREATEST with
    the bounded-distinct p validation, so per-shard tables roll up
    exactly like kmins_merge; (d) kmins_estimate's all-zero-minima
    edge returns inf, not ZeroDivisionError."""
    import pytest as _pt

    from fstd2pandas_spark.operators.sketch import (
        countmin_counters, histogram_merge, histogram_sketch,
        hll_estimate, hll_merge, hll_registers, kmins_estimate)

    # (a)
    wdf = spark.createDataFrame(
        [("a", 2), ("b", None)], "k string, w int")
    good = countmin_counters(wdf.filter("w IS NOT NULL"), "k",
                             width=8, depth=2, weight_col="w")
    assert sum(r["c"] for r in good.collect()) == 4  # 2 per depth row
    with _pt.raises(Exception, match="non-NULL and >= 0"):
        countmin_counters(wdf, "k", width=8, depth=2,
                          weight_col="w").collect()
    neg = spark.createDataFrame([("a", -1)], "k string, w int")
    with _pt.raises(Exception, match="non-NULL and >= 0"):
        countmin_counters(neg, "k", width=8, depth=2,
                          weight_col="w").collect()

    # (b)
    vals = spark.createDataFrame(
        [("g", float(i % 10)) for i in range(50)], "g string, x double")
    h8 = histogram_sketch(vals, "x", 0.0, 10.0, 8, ["g"])
    h4 = histogram_sketch(vals, "x", 0.0, 10.0, 4, ["g"])
    ok = histogram_merge(h8.unionByName(h8), ["g"]).collect()
    assert ok[0]["hist"] == [2 * c for c in
                             h8.collect()[0]["hist"]]
    with _pt.raises(Exception, match="different bin counts"):
        histogram_merge(h8.unionByName(h4), ["g"]).collect()

    # (c)
    a = spark.createDataFrame([(f"k{i}",) for i in range(30)], "k string")
    b = spark.createDataFrame([(f"k{i}",) for i in range(15, 60)],
                              "k string")
    ra, rb = hll_registers(a, "k", p=6), hll_registers(b, "k", p=6)
    ru = hll_registers(a.unionByName(b), "k", p=6)
    merged = hll_merge(ra, rb, p=6)
    assert ({(r["reg"], r["max_rank"]) for r in merged.collect()}
            == {(r["reg"], r["max_rank"]) for r in ru.collect()})
    est = hll_estimate(
        [(r["reg"], r["max_rank"]) for r in merged.collect()], p=6)
    assert 40 <= est <= 80  # 60 distinct, HLL tolerance at m=64
    with _pt.raises(ValueError, match="built with"):
        hll_merge(ra, rb, p=8)

    # (d)
    assert kmins_estimate([0, 0], k=2) == float("inf")

    # bloom_merge completes the validated-merge family: merged ==
    # union-built, mismatched (m, k) refused (a mixed merge could
    # report FALSE NEGATIVES — the one forbidden Bloom error)
    from fstd2pandas_spark.operators.sketch import (
        bloom_bits, bloom_merge, bloom_might_contain)

    fa = bloom_bits(a, "k", m=256, k=3)
    fb = bloom_bits(b, "k", m=256, k=3)
    fu = bloom_bits(a.unionByName(b), "k", m=256, k=3)
    fm = bloom_merge(fa, fb, m=256, k=3)
    assert ({r["bit"] for r in fm.collect()}
            == {r["bit"] for r in fu.collect()})
    probe = bloom_might_contain(fm, a.unionByName(b), "k", m=256, k=3)
    assert all(r["might_contain"] for r in probe.collect())
    with _pt.raises(ValueError, match="built with"):
        bloom_merge(fa, fb, m=128, k=3)


def test_asof_join_null_time_never_matches(spark):
    """The temporal.py review pin: NULL times must not correlate.
    Backward only got this right by sort-order luck; FORWARD's
    descending ordering put a NULL-ts left row last and matched it to
    the EARLIEST right row, 'nearest' fell through to the forward
    peek, and a NULL-ts right row sorted first under the ascending
    orders and was carried into every left row before the first real
    right row."""
    from fstd2pandas_spark.operators.temporal import asof_join

    L = spark.createDataFrame(
        [(1, 1, "2020-01-01 10:00:00"), (1, 2, None)],
        "user_id long, lid long, ts string")
    R = spark.createDataFrame(
        [(1, 10, "2020-01-01 09:00:00"), (1, 11, "2020-01-01 11:00:00"),
         (1, 99, None)],
        "user_id long, rid long, ts string")
    for d in ("backward", "forward", "nearest"):
        got = {r["lid"]: r["asof_rid"]
               for r in asof_join(L, R, right_cols=["rid"],
                                  direction=d).collect()}
        assert got[2] is None, (d, got)          # NULL left time
        assert got[1] == {"backward": 10, "forward": 11,
                          "nearest": 10}[d], (d, got)
    # NULL-ts right row (rid 99) must never be the carried payload,
    # even for a left row EARLIER than every real right row
    L2 = spark.createDataFrame(
        [(1, 3, "2020-01-01 08:00:00")], "user_id long, lid long, ts string")
    got2 = {r["lid"]: r["asof_rid"]
            for r in asof_join(L2, R, right_cols=["rid"]).collect()}
    assert got2[3] is None, got2


def test_funnel_null_ts_events_dropped(spark):
    """The batch twin of the r14 streaming NaT wedge, closed: without
    `within` the fold's accept condition never read ts_us, so a
    NULL-ts event of the right type COMPLETED a step (NULL in
    step_ts_us); as step 1 under `within` its NULL horizon bound
    wedged every later step. NULL-ts events now drop at the collect
    (the streaming_funnel rule); real events still fold normally."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    ev = spark.createDataFrame(
        [(1, 1, "view", None),                       # NULL-ts step 1
         (1, 2, "view", "2020-01-01 10:00:00"),
         (1, 3, "click", "2020-01-01 10:30:00"),
         (2, 4, "view", "2020-01-01 09:00:00"),
         (2, 5, "click", None)],                     # NULL-ts step 2
        "user_id long, event_id long, event_type string, ts string")
    for within in (None, 3600):
        got = {r["user"]: (r["depth"], r["step_ts_us"]) for r in
               funnel_steps(ev, ["view", "click"],
                            within=within).collect()}
        # user 1: the NULL-ts view is ignored; the real view + click
        # complete both steps with REAL timestamps (no NULL wedge)
        assert got[1][0] == 2 and None not in got[1][1], (within, got)
        # user 2: the NULL-ts click never counts
        assert got[2][0] == 1, (within, got)


def test_in_set_rule_null_and_empty_refused(spark):
    """validation.py review pin: an in_set rule containing None made
    x IN (.., NULL) evaluate to NULL for every non-member — the
    violation arm never fired and the rule silently certified any
    value; an empty set died as an opaque py4j error. Both refused
    at call time; a clean in_set still counts exactly."""
    from fstd2pandas_spark.operators.validation import (
        table_quality_report)

    df = spark.createDataFrame([("a",), ("b",), ("z",)], "c string")
    with pytest.raises(ValueError, match="contains None"):
        table_quality_report(df, [("r", "c", "in_set", ["a", None])])
    with pytest.raises(ValueError, match="EMPTY set"):
        table_quality_report(df, [("r", "c", "in_set", [])])
    got = table_quality_report(
        df, [("r", "c", "in_set", ["a", "b"])]).collect()[0]
    assert got["n_violations"] == 1 and not got["passed"]


def test_lookup_cache_survives_session_restart():
    """round-15 lookups review: the table cache was lru_cache on the
    NAME alone, pinning each frame to whichever SparkSession existed
    first — after a stop/restart every lookup join died on a stopped
    SparkContext. The cache now re-loads under the current session
    (owner compared by identity). Subprocess: stopping the suite's
    shared session here would kill every later test."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from fstd2pandas_spark.session import get_spark\n"
        "from fstd2pandas_spark.lookups import stdvar_df\n"
        "s1 = get_spark('a', master='local[2]', shuffle_partitions=2)\n"
        "n1 = stdvar_df().count()\n"
        "s1.stop()\n"
        "s2 = get_spark('b', master='local[2]', shuffle_partitions=2)\n"
        "n2 = stdvar_df().count()\n"
        "assert n1 == n2 > 0, (n1, n2)\n"
        "s2.stop()\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   timeout=240, capture_output=True)
