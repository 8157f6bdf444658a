"""Source/sink tests: fstrec DataSource round-trip + pushdown, CSV dialect."""

import os

import pytest
from pyspark.sql import functions as F

from fstd2pandas_spark.schema import BASE_COLUMNS


@pytest.fixture(scope="module")
def registered(spark):
    from fstd2pandas_spark.sources import register

    register(spark)
    return spark


@pytest.fixture(scope="module")
def fstrec_dir(registered, records, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fstrec"))
    (
        records.repartition(2)
        .write.format("fstrec").mode("overwrite").save(out)
    )
    return out


def _assert_payloads_match(want_df, got_df, cols):
    """Row-by-row payload equality: both sides sorted by (full
    metadata tuple, d), so duplicate metadata rows that differ only in
    ``d`` (the fixture's HU pair) each count, whatever the collect
    order."""
    def rows(df):
        return sorted((tuple(r[c] for c in cols), list(r.d))
                      for r in df.collect())

    want, got = rows(want_df), rows(got_df)
    assert len(want) == len(got)
    for (wm, wd), (gm, gd) in zip(want, got):
        assert wm == gm
        assert gd == pytest.approx(wd, rel=1e-6)


def test_fstrec_roundtrip(registered, records, fstrec_dir):
    back = registered.read.format("fstrec").load(fstrec_dir)
    assert back.count() == records.count()
    cols = [c for c in BASE_COLUMNS if c != "d"]
    orig = {tuple(r[c] for c in cols) for r in records.collect()}
    got = {tuple(r[c] for c in cols) for r in back.collect()}
    assert orig == got
    # payload fidelity (float32 exact)
    _assert_payloads_match(records, back, cols)


def test_fstrec_filter_pushdown_reads_correct_subset(registered, fstrec_dir):
    df = registered.read.format("fstrec").load(fstrec_dir)
    tt = df.filter(F.col("nomvar") == "TT")
    assert tt.count() == 10           # 8 on grid 1 + 2 on grid 3
    assert all(r.nomvar == "TT" for r in tt.collect())
    rng = df.filter((F.col("ip1") >= 2000) & (F.col("ip1") <= 12000))
    assert all(2000 <= r.ip1 <= 12000 for r in rng.collect())


def test_fstrec_metadata_only_scan(registered, fstrec_dir):
    meta = (
        registered.read.format("fstrec").option("with_data", "false")
        .load(fstrec_dir)
    )
    rows = meta.select("nomvar", "d").collect()
    assert all(r.d is None for r in rows)
    assert len(rows) > 0


def test_csv_roundtrip(spark, tmp_path):
    from fstd2pandas_spark.sources import read_csv_records, write_csv_records

    p = tmp_path / "recs.csv"
    p.write_text(
        "# comment line\n"
        "nomvar,level,d\n"
        "TT,1.0,\"1.5,2.5;3.5,4.5\"\n"
        "TT,2.0,\"5.0,6.0;7.0,8.0\"\n"
        "UV,1.0,\"1,2,3;4,5,6\"\n"
    )
    df = read_csv_records(spark, str(p))
    rows = {(r.nomvar, r.ip1): r for r in df.collect()}
    assert len(rows) == 3
    tt = [r for r in rows.values() if r.nomvar == "TT"][0]
    assert (tt.ni, tt.nj, tt.nk) == (2, 2, 1)
    assert tt.etiket == "CSVREADER" and tt.typvar == "X"
    assert tt.datyp == 1 and tt.nbits == 24 and tt.grtyp == "X"
    uv = [r for r in rows.values() if r.nomvar == "UV"][0]
    assert (uv.ni, uv.nj) == (3, 2)
    assert uv.d == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    # level encoded with kind 3
    from fstd2pandas_spark.functions.codecs import decode_ip_py
    v, k = decode_ip_py(tt.ip1)
    assert k == 3 and v == pytest.approx(1.0)

    out = tmp_path / "out_csv"
    write_csv_records(df, str(out))
    back = read_csv_records(spark, str(out) + "/*.csv", encode_ip1=False)
    assert back.count() == 3


def test_csv_validation(spark, tmp_path):
    from fstd2pandas_spark.sources.csv_source import (
        CsvReaderError, read_csv_records,
    )

    p = tmp_path / "bad.csv"
    p.write_text("nomvar,bogus,d\nTT,1,\"1\"\n")
    with pytest.raises(CsvReaderError):
        read_csv_records(spark, str(p))
    p2 = tmp_path / "bad2.csv"
    p2.write_text("nomvar,level,ip1,d\nTT,1.0,500,\"1\"\n")
    with pytest.raises(CsvReaderError):
        read_csv_records(spark, str(p2))

    # round-15 review: cast() turned unparseable cells into NULLs
    # SILENTLY — and a NULL element inside d means MASKED downstream
    # (mask.py), so a typo'd data cell read as a masked grid point;
    # the reference raises on the np.array/astype conversion.
    p3 = tmp_path / "bad3.csv"
    p3.write_text("nomvar,level,d\nTT,1.0,\"1.5,oops;3.5,4.5\"\n")
    with pytest.raises(CsvReaderError, match="unparseable"):
        read_csv_records(spark, str(p3))
    p4 = tmp_path / "bad4.csv"   # empty cell in a numeric column
    p4.write_text("nomvar,level,ip2,d\nTT,1.0,,\"1.5\"\n")
    with pytest.raises(CsvReaderError, match="ip2"):
        read_csv_records(spark, str(p4))
    p5 = tmp_path / "bad5.csv"   # ragged d still raises
    p5.write_text("nomvar,level,d\nTT,1.0,\"1.5,2.5;3.5\"\n")
    with pytest.raises(CsvReaderError, match="ragged"):
        read_csv_records(spark, str(p5))


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_csv_null_d_cell_raises_on_every_config(spark, tmp_path, ansi):
    """round-16 advice: a wholly-NULL d cell must refuse LOUDLY under
    BOTH ANSI configs. Under non-ANSI, legacy sizeOfNull makes
    F.size(NULL) return -1, so ni/nj became -1 (non-NULL — invisible
    to the NULL scan) and F.exists over a NULL array returns NULL
    (skipped by max) — the record silently entered the table with
    d=NULL and ni=nj=-1; under ANSI the same row was caught via the
    ni/nj NULL scan. Validation loudness must not depend on config
    (the text.py size_col class)."""
    from fstd2pandas_spark.sources.csv_source import (
        CsvReaderError, read_csv_records)

    p = tmp_path / "nulld.csv"
    # second row's d cell is EMPTY -> NULL after the csv read
    p.write_text("nomvar,level,d\nTT,1.0,\"1.5\"\nUU,2.0,\n")
    ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(CsvReaderError, match="'d'"):
            read_csv_records(spark, str(p))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi0)


def test_writers_null_metadata_and_masked_d(tmp_path):
    """round-15 sources review: NULL string metadata writes as SPACES
    (reads back as ''), never as str(None) — the old stringification
    wrote the literal text 'None'/'No', and a NULL grtyp became 'N', a
    REAL grid type (polar stereographic). A masked d (NULL elements)
    refuses naming recover_mask instead of an opaque numpy TypeError."""
    from fstd2pandas_spark.sources.fstrec_format import (
        read_directory, write_fstrec)
    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, write_xdf)

    base = dict(nomvar=None, typvar=None, etiket=None, grtyp=None,
                ni=2, nj=1, nk=1, dateo=442998800, ip1=500, ip2=0, ip3=0,
                deet=0, npas=0, datyp=5, nbits=32, ig1=0, ig2=0, ig3=0,
                ig4=0, datev=442998800, d=[1.0, 2.0])

    p1 = str(tmp_path / "n.fstrec")
    write_fstrec(p1, [dict(base)])
    h = read_directory(p1)[0]
    assert (h.nomvar, h.typvar, h.etiket) == ("", "", "")

    p2 = str(tmp_path / "n.fst")
    write_xdf(p2, [dict(base)])
    h2 = read_xdf_directory(p2)[0]
    assert (h2.nomvar, h2.typvar, h2.etiket) == ("", "", "")
    assert h2.grtyp == "X"          # the explicit no-projection default

    masked = dict(base, nomvar="TT", d=[1.0, None])
    with pytest.raises(ValueError, match="recover_mask"):
        write_fstrec(str(tmp_path / "m.fstrec"), [masked])
    with pytest.raises(ValueError, match="recover_mask"):
        write_xdf(str(tmp_path / "m.fst"), [masked])


def test_maybe_fstrec(fstrec_dir, tmp_path):
    from fstd2pandas_spark.sources.fstrec_format import maybe_fstrec

    files = [f for f in os.listdir(fstrec_dir) if f.endswith(".fstrec")]
    assert files
    assert maybe_fstrec(os.path.join(fstrec_dir, files[0]))
    other = tmp_path / "not.fstrec"
    other.write_bytes(b"garbage")
    assert not maybe_fstrec(str(other))


def test_writer_modes_and_update(registered, records, tmp_path):
    """S9: write (cleanup+order), dump (raw), update (in-place metadata)."""
    from fstd2pandas_spark.sources import write_record_table, detect_rewrite

    out = str(tmp_path / "w1")
    write_record_table(records, out, mode="write", overwrite=True)
    back = registered.read.format("fstrec").load(out)
    assert back.count() > 0
    # write mode ran metadata_cleanup: no unreferenced meta rows appear
    dumped = str(tmp_path / "w2")
    write_record_table(records, dumped, mode="dump", overwrite=True)
    assert registered.read.format("fstrec").load(dumped).count() == records.count()

    # update: retag every TT record's etiket in-place
    tt = (
        back.filter(F.col("nomvar") == "TT")
        .select("path", "key", F.lit("RETAGGED").alias("etiket"))
    )
    write_record_table(tt, out, mode="update")
    again = registered.read.format("fstrec").load(out)
    tags = {r.etiket for r in again.filter(F.col("nomvar") == "TT")
            .select("etiket").distinct().collect()}
    assert tags == {"RETAGGED"}
    # payloads untouched
    d0 = {r.key: r.d for r in back.filter(F.col("nomvar") == "TT").collect()}
    d1 = {r.key: r.d for r in again.filter(F.col("nomvar") == "TT").collect()}
    assert d0.keys() == d1.keys() and all(d0[k] == d1[k] for k in d0)


def test_detect_rewrite(registered, records):
    from fstd2pandas_spark.sources import detect_rewrite

    uniq = records.dropDuplicates(["nomvar", "typvar", "etiket", "ip1",
                                   "ip2", "ip3"])
    assert not detect_rewrite(uniq)
    assert detect_rewrite(uniq.unionByName(uniq.limit(1)))


def test_write_partition_by_clusters_files(registered, records, tmp_path):
    """§7.2 layout: partition_by clusters one key group per output file."""
    from fstd2pandas_spark.sources.writer import write_record_table
    from fstd2pandas_spark.sources.fstrec_format import (
        list_fstrec_files, read_directory)

    out = str(tmp_path / "clustered")
    write_record_table(records, out, mode="dump", partition_by=["grid"],
                       overwrite=True)
    grids_per_file = []
    for f in list_fstrec_files(out):
        headers = read_directory(f)
        if not headers:
            continue
        grids_per_file.append({(h.ig1, h.ig2) for h in headers})
    assert grids_per_file
    # hash clustering: a grid never splits across files (same-key rows
    # land in one partition; distinct keys may share one)
    seen: dict = {}
    for i, grids in enumerate(grids_per_file):
        for g in grids:
            assert g not in seen, f"grid {g} split across files {seen[g]},{i}"
            seen[g] = i
    assert len(seen) >= 2


# ---------------------------------------------------------------------------
# real FST/XDF binary layout (std_io.py:247-460, 656-799)
# ---------------------------------------------------------------------------


def _xdf_sample_records(n=600):
    import numpy as np

    rng = np.random.RandomState(7)
    recs = []
    for i in range(n):
        ni, nj = int(rng.randint(1, 9)), int(rng.randint(1, 7))
        recs.append(dict(
            nomvar=["TT", "UU", ">>", "P0"][i % 4], typvar="P",
            etiket=f"R1_V{i % 100:03d}_N", ni=ni, nj=nj, nk=1,
            ip1=int(rng.randint(0, 2 ** 28)), ip2=i % 30, ip3=i,
            deet=300, npas=i % 100, datyp=5, nbits=32,
            grtyp="Z", ig1=i % 90, ig2=(i * 7) % (1 << 24), ig3=0,
            ig4=i % 50, datev=442998800 + 10 * i + (i % 8),
            deleted=(i % 97 == 5),
            d=rng.randn(ni * nj).astype("<f4"),
        ))
    return recs


def test_xdf_bit_roundtrip(tmp_path):
    """Bit-exact encode -> decode of the packed 9x64-bit directory
    entries, multi-page chains, 6-bit strings, and stamp arithmetic."""
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        maybe_xdf, read_xdf_directory, read_xdf_payload, stamp_raw,
        stamp_user, write_xdf)

    recs = _xdf_sample_records()           # 600 records -> 3 DIR0 pages
    path = str(tmp_path / "t.fst")
    write_xdf(path, recs)
    assert maybe_xdf(path)

    hdrs = read_xdf_directory(path, include_deleted=True)
    assert len(hdrs) == len(recs)
    live = read_xdf_directory(path)
    assert len(live) == sum(1 for r in recs if not r["deleted"])

    fields = ("nomvar", "typvar", "ni", "nj", "nk", "ip1", "ip2", "ip3",
              "deet", "npas", "datyp", "nbits", "grtyp", "ig1", "ig2",
              "ig3", "ig4", "datev")
    with open(path, "rb") as f:
        for r, h in zip(recs, hdrs):
            for k in fields:
                assert getattr(h, k) == r[k], k
            assert h.etiket == r["etiket"].strip()
            # dateo is derived from the stored valid-date stamp exactly
            # as the reference does (std_io.py:786-792)
            raw_o = stamp_raw(r["datev"]) - (r["deet"] * r["npas"]) // 5
            assert h.dateo == int(stamp_user(raw_o))
            assert np.array_equal(read_xdf_payload(f, h), r["d"])


def test_xdf_property_fuzz_roundtrip(tmp_path):
    """round-15: hypothesis property fuzz over the XDF container —
    RANDOM records (6-bit-alphabet strings at every legal length,
    random dims, every field at random points of its directory-entry
    bit range, random datyps across transparent AND codec layouts with
    in-range payloads) write -> read back BIT-EXACT. The hand-written
    matrix tests pin chosen corners; this sweeps the space between."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, read_xdf_payload, write_xdf)

    alpha = st.text(
        alphabet=[chr(c) for c in range(33, 96)])  # 6-bit printables

    rec_st = st.fixed_dictionaries({
        "nomvar": alpha.map(lambda s: s[:4]),
        "typvar": alpha.map(lambda s: s[:2]),
        "etiket": alpha.map(lambda s: s[:12]),
        "grtyp": st.sampled_from(list("ABGLZ#YENSXU")),
        "ni": st.integers(1, 40), "nj": st.integers(1, 8),
        "nk": st.just(1),
        "ip1": st.integers(0, (1 << 28) - 1),
        "ip2": st.integers(0, (1 << 28) - 1),
        "ip3": st.integers(0, (1 << 28) - 1),
        "deet": st.integers(0, (1 << 24) - 1),
        "npas": st.integers(0, (1 << 20) - 1),
        "ig1": st.integers(0, (1 << 24) - 1),
        "ig2": st.integers(0, (1 << 24) - 1),
        "ig3": st.integers(0, (1 << 24) - 1),
        "ig4": st.integers(0, (1 << 24) - 1),
        "datev": st.integers(1, (1 << 31) - 1).map(
            lambda v: v - v % 10 + (v % 8)),   # last digit 0-7
        "layout": st.sampled_from([
            (5, 32), (5, 64), (2, 32), (4, 32), (133, 24),
            (130, 16), (132, 16), (134, 16), (1, 12), (6, 20)]),
        "seed": st.integers(0, 2**32 - 1),
    })

    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(rec_st, min_size=1, max_size=8))
    def run(recs):
        rows = []
        for r in recs:
            datyp, nbits = r.pop("layout")
            rng = np.random.default_rng(r.pop("seed"))
            n = r["ni"] * r["nj"]
            if (datyp, nbits) in ((5, 32), (5, 64)):
                d = (rng.standard_normal(n) * 1e3).astype("<f4")
            elif datyp == 133:
                d = rng.standard_normal(n).astype("<f4")
            elif datyp in (2, 130):
                d = rng.integers(0, 1 << min(nbits, 24), n).astype("<f4")
            elif datyp in (4, 132):
                lim = 1 << (min(nbits, 24) - 1)
                d = rng.integers(-lim, lim, n).astype("<f4")
            else:
                d = rng.integers(0, 1 << min(nbits - 1, 20),
                                 n).astype("<f4")
            rows.append(dict(r, datyp=datyp, nbits=nbits, d=d,
                             deleted=False))
        path = str(tmp_path / "fuzz.fst")
        write_xdf(path, rows)
        hdrs = read_xdf_directory(path)
        assert len(hdrs) == len(rows)
        fields = ("ni", "nj", "nk", "ip1", "ip2", "ip3", "deet",
                  "npas", "datyp", "nbits", "ig1", "ig2", "ig3",
                  "ig4", "datev")
        with open(path, "rb") as f:
            for r, h in zip(rows, hdrs):
                for k in fields:
                    assert getattr(h, k) == r[k], k
                assert h.nomvar == r["nomvar"].strip()
                assert h.typvar == r["typvar"].strip()
                assert h.etiket == r["etiket"].strip()
                assert h.grtyp == r["grtyp"]
                back = read_xdf_payload(f, h)
                assert np.array_equal(back, r["d"]), (
                    r["datyp"], r["nbits"])

    run()


def test_xdf_transparent_datyps_and_compressed_rejection(tmp_path):
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, read_xdf_payload, write_xdf)

    base = _xdf_sample_records(3)
    recs = [
        dict(base[0], datyp=2, deleted=False,
             d=np.arange(base[0]["ni"] * base[0]["nj"], dtype="u4")),
        dict(base[1], datyp=4, deleted=False,
             d=(np.arange(base[1]["ni"] * base[1]["nj"]) - 3).astype("i4")),
        dict(base[2], datyp=5, nbits=64, deleted=False,
             d=np.linspace(0, 1, base[2]["ni"] * base[2]["nj"])),
    ]
    path = str(tmp_path / "ints.fst")
    write_xdf(path, recs)
    hdrs = read_xdf_directory(path)
    with open(path, "rb") as f:
        for r, h in zip(recs, hdrs):
            assert np.array_equal(
                read_xdf_payload(f, h), np.asarray(r["d"]).astype("f4"))
    # turbo-packed datyp 134 round-trips through the container within the
    # quantizer's half-quantum tolerance (turbo_codec.py quantize)
    crec = dict(base[0], datyp=134, nbits=16, deleted=False,
                d=np.random.RandomState(3).randn(
                    base[0]["ni"] * base[0]["nj"]).astype("<f4"))
    cpath = str(tmp_path / "c.fst")
    write_xdf(cpath, [crec])
    (chdr,) = read_xdf_directory(cpath)
    with open(cpath, "rb") as f:
        got = read_xdf_payload(f, chdr)
    span = float(crec["d"].max() - crec["d"].min())
    assert np.allclose(got, crec["d"], atol=span / (1 << 15))
    # datyps outside the DATYP table stay an explicit error
    for bad in (7, 3):
        with pytest.raises(NotImplementedError):
            write_xdf(str(tmp_path / f"l{bad}.fst"),
                      [dict(base[0], datyp=bad, nbits=16)])


def test_xdf_datasource_roundtrip_and_mixed_dir(registered, records,
                                                tmp_path):
    """The fstrec DataSource writes/reads real .fst files
    (option container=xdf) and sniffs both layouts in one directory."""
    from fstd2pandas_spark.schema import BASE_COLUMNS

    out = str(tmp_path / "xdf")
    wdf = records.withColumn("datyp", F.lit(5)).withColumn(
        "nbits", F.lit(32))
    (
        wdf.repartition(2).write.format("fstrec")
        .option("container", "xdf").mode("overwrite").save(out)
    )
    files = os.listdir(out)
    assert files and all(f.endswith(".fst") for f in files)

    back = registered.read.format("fstrec").load(out)
    assert back.count() == records.count()
    # fixture stamps satisfy datev = dateo + deet*npas/5, so every BASE
    # column (dateo included) survives the real binary layout
    cols = [c for c in BASE_COLUMNS if c not in ("d", "datyp", "nbits")]
    orig = {tuple(r[c] for c in cols) for r in wdf.collect()}
    got = {tuple(r[c] for c in cols) for r in back.collect()}
    assert orig == got
    _assert_payloads_match(wdf, back, cols)

    # mixed directory: drop one .fstrec alongside; one load reads both
    extra = wdf.limit(3)
    extra.write.format("fstrec").mode("append").save(out)
    mixed = registered.read.format("fstrec").load(out)
    assert mixed.count() == records.count() + 3

    # pushed filters evaluate against the XDF directory pages too
    tt = mixed.filter(F.col("nomvar") == "TT")
    assert all(r.nomvar == "TT" for r in tt.collect())


def test_xdf_write_validation(tmp_path):
    """Over-width fields, invalid stamps, and mis-sized payloads must
    fail loudly at write time — each would silently corrupt on read."""
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import stamp_raw, write_xdf

    base = _xdf_sample_records(1)[0]
    base.update(deleted=False, datev=442998800)

    # d length must equal ni*nj*nk (reader sizes the payload from it)
    bad_d = dict(base, d=np.zeros(base["ni"] * base["nj"] + 1, dtype="<f4"))
    with pytest.raises(ValueError, match=r"ni\*nj\*nk"):
        write_xdf(str(tmp_path / "a.fst"), [bad_d])

    # RMN stamps never end in 8/9 — the raw encoding can't express them
    with pytest.raises(ValueError, match="last digit"):
        stamp_raw(442998808)
    with pytest.raises(ValueError, match="last digit"):
        write_xdf(str(tmp_path / "b.fst"), [dict(base, datev=442998809)])

    # packed fields must fit their directory-entry bit widths
    for field, bad in (("ig2", 1 << 24), ("ip1", 1 << 28), ("ni", 1 << 24),
                      ("npas", 1 << 26), ("deet", 1 << 24)):
        rec = dict(base, **{field: bad})
        if field == "ni":
            rec["d"] = np.zeros((1 << 24) * base["nj"], dtype="<f4")
        with pytest.raises(ValueError, match=field):
            write_xdf(str(tmp_path / "c.fst"), [rec])


def test_writer_commit_removes_orphans_and_tmp(registered, records, tmp_path):
    """Task files publish via _tmp/ + rename: after commit the output dir
    holds exactly the committed containers, no scratch dir, and a
    pre-seeded orphan in _tmp/ is swept."""
    out = str(tmp_path / "o")
    os.makedirs(os.path.join(out, "_tmp"))
    orphan = os.path.join(out, "_tmp", "part-99999-deadbeef.fstrec")
    with open(orphan, "wb") as f:
        f.write(b"leftover from a failed attempt")

    records.repartition(2).write.format("fstrec").mode("overwrite").save(out)
    assert not os.path.exists(os.path.join(out, "_tmp"))
    names = sorted(os.listdir(out))
    assert names and all(n.endswith(".fstrec") for n in names)

    back = registered.read.format("fstrec").load(out)
    assert back.count() == records.count()

    # second overwrite replaces the first generation entirely
    records.limit(5).repartition(1).write.format("fstrec") \
        .mode("overwrite").save(out)
    names2 = sorted(os.listdir(out))
    assert names2 and not (set(names) & set(names2))
    assert registered.read.format("fstrec").load(out).count() == 5


@pytest.mark.parametrize("datyp,nbits,gen", [
    (5, 32, "randn_f4"), (5, 64, "randn_f8"),
    (2, 32, "uint_u4"), (4, 32, "int_i4"),
    (130, 16, "uint_small"), (134, 16, "int_valued_f4"),
    (134, 24, "randn_f4"), (129, 16, "int_valued_f4"),
    (129, 24, "randn_f4"), (132, 16, "int_small_signed"),
    (133, 32, "randn_f4"), (1, 16, "int_valued_f4"),
    (1, 24, "randn_f4"), (6, 16, "int_valued_f4"),
])
def test_xdf_format_matrix(tmp_path, datyp, nbits, gen):
    """One matrix test locking the whole supported (datyp, nbits)
    lattice through the real container: every transparent layout plus
    both turbo codes, with deleted records interleaved and enough
    records to chain multiple directory pages (xdf_format.py
    ENTRIES_PER_PAGE=256)."""
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, read_xdf_payload, write_xdf)

    rng = np.random.RandomState(datyp * 100 + nbits)
    n = 300    # > ENTRIES_PER_PAGE: forces a second directory page
    recs = []
    for i, base in enumerate(_xdf_sample_records(n)):
        sz = base["ni"] * base["nj"]
        if gen == "randn_f4":
            d = (rng.randn(sz) * 50).astype("<f4")
        elif gen == "randn_f8":
            d = rng.randn(sz)
        elif gen == "uint_u4":
            d = rng.randint(0, 1 << 31, size=sz).astype("u4")
        elif gen == "int_i4":
            d = rng.randint(-(1 << 30), 1 << 30, size=sz).astype("i4")
        elif gen == "uint_small":
            d = rng.randint(0, 1 << 12, size=sz).astype("u2")
        elif gen == "int_small_signed":
            d = rng.randint(-(1 << 12), 1 << 12, size=sz).astype("i2")
        else:   # int-valued floats: exact through the quantizer
            d = rng.randint(0, 1 << 10, size=sz).astype("<f4")
        recs.append(dict(base, datyp=datyp, nbits=nbits, d=d,
                         deleted=(i % 37 == 5)))
    path = str(tmp_path / f"m{datyp}_{nbits}.fst")
    write_xdf(path, recs)
    hdrs = read_xdf_directory(path)
    live = [r for r in recs if not r["deleted"]]
    assert len(hdrs) == len(live)
    with open(path, "rb") as f:
        for r, h in zip(live, hdrs):
            assert (h.datyp, h.nbits) == (datyp, nbits)
            got = read_xdf_payload(f, h)
            # the reader returns float32 (the engine's d column type)
            want = np.asarray(r["d"]).astype("<f4")
            if gen == "randn_f4" and datyp in (1, 129, 134):
                span = float(want.max() - want.min()) or 1.0
                assert np.allclose(got, want, atol=span / (1 << (nbits - 1)))
            else:
                assert np.array_equal(got, want)


@pytest.mark.parametrize("datyp,nbits,signed", [
    (2, 16, False), (2, 8, False), (4, 16, True), (4, 12, True),
])
def test_xdf_subword_int_packing(tmp_path, datyp, nbits, signed):
    """Sub-word int layouts (datyp 2/4 at nbits < 32) round-trip through
    the packed-token route; at nbits = 32 they stay transparent."""
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, read_xdf_payload, write_xdf)

    rng = np.random.RandomState(nbits)
    recs = []
    for base in _xdf_sample_records(40):
        sz = base["ni"] * base["nj"]
        if signed:
            lim = 1 << (nbits - 1)
            d = rng.randint(-lim, lim, size=sz).astype("i4")
        else:
            d = rng.randint(0, 1 << nbits, size=sz).astype("u4")
        recs.append(dict(base, datyp=datyp, nbits=nbits, d=d,
                         deleted=False))
    path = str(tmp_path / "sub.fst")
    write_xdf(path, recs)
    hdrs = read_xdf_directory(path)
    with open(path, "rb") as f:
        for r, h in zip(recs, hdrs):
            assert np.array_equal(read_xdf_payload(f, h),
                                  np.asarray(r["d"]).astype("<f4"))


def test_librmn_compression_boundary(tmp_path):
    """The README's FST compatibility contract: transparent datyps are
    bit-compatible with the librmn layout, but compressed datyps use this
    repo's own turbo-pack stream — an authentic librmn-compressed
    (ARMN/zfst) payload must raise a clear error, never decode to wrong
    data (reference fstpy/std_io.py:463-475 delegates to librmn)."""
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, read_xdf_payload, write_xdf)

    base = _xdf_sample_records(2)
    rec = dict(base[0], datyp=134, nbits=16, deleted=False,
               d=np.random.RandomState(5).randn(
                   base[0]["ni"] * base[0]["nj"]).astype("<f4"))
    path = str(tmp_path / "c.fst")
    write_xdf(path, [rec])
    (hdr,) = read_xdf_directory(path)

    # sanity: our own stream decodes
    with open(path, "rb") as f:
        got = read_xdf_payload(f, hdr)
    assert got.shape == (rec["ni"] * rec["nj"],)

    # simulate a foreign (librmn zfst) payload: overwrite the payload
    # with a stream whose leading words do not satisfy the turbo-pack
    # header contract (token count != ni*nj*nk); the reader must reject
    # it loudly instead of returning garbage
    foreign = np.array([999999, (33 << 24) | 0x7F, 0xDEADBEEF,
                        0x12345678, 2, 0xCAFEBABE, 0x0BADF00D],
                       dtype=">u4")
    with open(path, "r+b") as f:
        f.seek(hdr.offset)
        f.write(foreign.tobytes())
    with open(path, "rb") as f:
        with pytest.raises(ValueError, match="librmn"):
            read_xdf_payload(f, hdr)


def test_update_mode_distributed_path(registered, records, tmp_path):
    """The update-mode scale path (threshold 0 forces it): edits are
    applied via repartition('path').foreachPartition — one task per
    file, no full-table collect on the driver — and produce exactly the
    same files as the driver-side fast path."""
    from fstd2pandas_spark.sources import write_record_table

    out = str(tmp_path / "wd")
    write_record_table(records, out, mode="dump", overwrite=True)
    back = registered.read.format("fstrec").load(out)
    upd = back.select("path", "key", F.lit("DISTTAG").alias("etiket"),
                      F.lit(77).alias("ip3"))
    write_record_table(upd, out, mode="update", update_driver_threshold=0)
    again = registered.read.format("fstrec").load(out)
    assert {r.etiket for r in again.select("etiket").distinct().collect()} \
        == {"DISTTAG"}
    assert {r.ip3 for r in again.select("ip3").distinct().collect()} == {77}
    # payloads untouched
    d0 = sorted(tuple(r.d) for r in back.select("d").collect())
    d1 = sorted(tuple(r.d) for r in again.select("d").collect())
    assert d0 == d1


def test_source_review_fixes(spark, tmp_path):
    """Regression pack for the sources review findings."""
    import pytest as _pt

    from fstd2pandas_spark.sources import register, write_record_table
    from fstd2pandas_spark.sources.csv_source import (
        CsvReaderError, read_csv_records)
    from fstd2pandas_spark.sources.fstrec_format import (
        read_directory, update_metadata, write_fstrec)
    from fstd2pandas_spark.sources.writer import WriterError
    from fixtures import build_fst_records

    register(spark)
    rec = build_fst_records(spark)

    # default (non-overwrite) write works: Python DataSource writers
    # only support append/overwrite, so the default must be append
    out = str(tmp_path / "plain")
    write_record_table(rec, out, mode="dump")
    assert spark.read.format("fstrec").load(out).count() == rec.count()

    # ...but ErrorIfExists semantics hold driver-side: a second
    # non-overwrite write against the populated target must raise, not
    # silently append duplicates; overwrite=True replaces it cleanly
    with _pt.raises(WriterError, match="already holds data"):
        write_record_table(rec, out, mode="dump")
    write_record_table(rec, out, mode="dump", overwrite=True)
    assert spark.read.format("fstrec").load(out).count() == rec.count()

    # the guard must also see SCHEME-qualified spellings of the same
    # target — Hadoop accepts single-slash URIs (file:/x), and a
    # literal '://' test would route them to the os.path branch, which
    # returns False and silently re-enables duplicate accumulation
    from fstd2pandas_spark.sources.writer import _target_has_data
    assert _target_has_data(rec, f"file:{out}")
    assert _target_has_data(rec, f"file://{out}")
    assert not _target_has_data(rec, f"file:{tmp_path}/absent")
    # a forward-slash Windows drive path is NOT a URI scheme: a
    # 1-letter "scheme" must take the os.path branch instead of dying
    # in getFileSystem as 'No FileSystem for scheme: C'
    assert not _target_has_data(rec, "C:/no-such-drive/tbl")
    with _pt.raises(WriterError, match="already holds data"):
        write_record_table(rec, f"file:{out}", mode="dump")

    # filters on 'd' are NOT claimed by pushdown: with_data=false rows
    # have d NULL, so 'd is not null' must return 0, not everything
    meta_only = (spark.read.format("fstrec").option("with_data", "false")
                 .load(out))
    assert meta_only.filter("d is not null").count() == 0

    # metadata-only frames cannot be written as containers
    with _pt.raises(Exception, match="no data array"):
        write_fstrec(str(tmp_path / "bad.fstrec"),
                     [r.asDict() for r in meta_only.limit(2).collect()])

    # len(d) must match ni*nj*nk
    good = rec.limit(1).collect()[0].asDict()
    good["d"] = list(good["d"]) + [1.0]
    with _pt.raises(ValueError, match="ni\\*nj\\*nk"):
        write_fstrec(str(tmp_path / "bad2.fstrec"), [good])

    # update_metadata is all-or-nothing per file: a bad key in the
    # batch must leave every header untouched
    import glob
    fpath = sorted(glob.glob(f"{out}/*.fstrec"))[0]
    before = [h.etiket for h in read_directory(fpath)]
    with _pt.raises(KeyError):
        update_metadata(fpath, {1: {"etiket": "EDITED"},
                                10**6: {"etiket": "X"}})
    assert [h.etiket for h in read_directory(fpath)] == before

    # shape fields are forbidden in-place: editing ni/nj/nk without the
    # payload would break the n_floats == ni*nj*nk read invariant — the
    # re-stamped CRC would bless headers every later read rejects,
    # permanently bricking the container (round 18, ADVICE)
    h1 = read_directory(fpath)[0]
    for shape_field in ("ni", "nj", "nk"):
        with _pt.raises(ValueError, match="shape edit"):
            update_metadata(fpath, {1: {shape_field: 999}})
    # ...and the file is still fully readable with unchanged headers
    after = read_directory(fpath)[0]
    assert (after.ni, after.nj, after.nk) == (h1.ni, h1.nj, h1.nk)

    # update mode refuses non-fstrec targets BEFORE editing anything
    df_edit = (spark.read.format("fstrec").load(out)
               .withColumn("etiket", F.lit("NEWTAG"))
               .withColumn("path", F.lit(str(tmp_path / "not_a_container"))))
    (tmp_path / "not_a_container").write_bytes(b"JUNKDATA")
    with _pt.raises(WriterError, match="fstrec containers only"):
        write_record_table(df_edit, out, mode="update")

    # ragged CSV arrays raise (ArrayIsNotStableError parity)
    csv = tmp_path / "ragged.csv"
    csv.write_text('nomvar,level,d\nTT,1.0,"1,2;3"\n')
    with _pt.raises(CsvReaderError, match="ragged"):
        read_csv_records(spark, str(csv))


# --------------------------------------------------------------- round 17
# XDF READ-path corruption fuzz: the write path validates loudly
# (test_xdf_write_validation) and the roundtrip is property-fuzzed, but
# authentic files in the wild are DAMAGED more often than they are
# librmn-compressed. Contract: reading a truncated or bit-flipped file
# either raises a loud typed error or returns results provably
# consistent with the pristine file — NEVER a silently wrong array.
# Guards under test (sources/xdf_format.py): the per-page XOR checksum,
# the nrec/nbd census cross-check (a flipped nxt_addr that becomes 0
# would otherwise silently drop trailing pages), the page-chain cycle
# detector, the nent range check, short-read guards on every frombuffer,
# and verify_record_keys (the record-local primary-key block XDF repeats
# at each swa, decoded and compared field-by-field against the
# directory entry).


def _xdf_fuzz_corpus_records(n=300):
    """Mixed-layout corpus: transparent AND codec datyps, some deleted
    records, >256 records so the directory chains two DIR0 pages."""
    import numpy as np

    layouts = [(5, 32), (5, 64), (2, 32), (4, 32),
               (130, 16), (134, 16), (133, 24), (1, 12)]
    rng = np.random.RandomState(17)
    recs = []
    for i in range(n):
        datyp, nbits = layouts[i % len(layouts)]
        ni, nj = int(rng.randint(1, 9)), int(rng.randint(1, 7))
        m = ni * nj
        if datyp == 5:
            d = (rng.randn(m) * 1e3).astype("<f4")
        elif datyp == 133:
            d = rng.randn(m).astype("<f4")
        elif datyp in (2, 130):
            d = rng.randint(0, 1 << min(nbits, 24), m).astype("<f4")
        elif datyp == 4:
            lim = 1 << (min(nbits, 24) - 1)
            d = rng.randint(-lim, lim, m).astype("<f4")
        else:
            d = rng.randint(0, 1 << min(nbits - 1, 20), m).astype("<f4")
        recs.append(dict(
            nomvar=["TT", "UU", "GZ", "P0"][i % 4], typvar="P",
            etiket=f"FUZZ{i % 100:03d}", ni=ni, nj=nj, nk=1,
            ip1=int(rng.randint(0, 2 ** 28)), ip2=i % 30, ip3=i,
            deet=300, npas=i % 100, datyp=datyp, nbits=nbits,
            grtyp="Z", ig1=i % 90, ig2=(i * 7) % (1 << 24), ig3=0,
            ig4=i % 50, datev=442998800 + 10 * i + (i % 8),
            deleted=(i % 41 == 7), d=d))
    return recs


def _xdf_read_all(path):
    """Directory walk + every live payload, asserting the length
    invariant (a successful read NEVER yields a wrong-length array)."""
    import numpy as np  # noqa: F401

    from fstd2pandas_spark.sources.xdf_format import (
        read_xdf_directory, read_xdf_payload)

    hdrs = read_xdf_directory(path)
    out = {}
    with open(path, "rb") as f:
        for h in hdrs:
            d = read_xdf_payload(f, h)
            assert len(d) == h.ni * h.nj * h.nk, \
                "wrong-length array returned from corrupt file"
            out[(h.nomvar, h.ip1, h.ip2, h.ip3, h.datev, h.offset)] = d
    return out


@pytest.fixture(scope="module")
def xdf_fuzz_corpus(tmp_path_factory):
    """Pristine container + byte-region map for outcome adjudication."""
    import numpy as np

    from fstd2pandas_spark.sources import turbo_codec
    from fstd2pandas_spark.sources.xdf_format import (
        FILE_HEADER_WORDS, PAGE_HEADER_WORDS, PAGE_WORDS,
        payload_dtype, read_xdf_directory, write_xdf)

    path = str(tmp_path_factory.mktemp("xdf_fuzz") / "pristine.fst")
    recs = _xdf_fuzz_corpus_records()
    write_xdf(path, recs)
    pristine_bytes = open(path, "rb").read()
    pristine = _xdf_read_all(path)

    # byte -> region classification from the pristine layout
    live_offsets = {h.offset for h in read_xdf_directory(path)}
    all_hdrs = read_xdf_directory(path, include_deleted=True)
    regions = []  # (start, end, kind, payload_key_or_None)
    hdr_bytes = FILE_HEADER_WORDS * 4
    regions.append((0, hdr_bytes, "file_header", None))
    npages = -(-len(all_hdrs) // 256)
    for p in range(npages):
        base = hdr_bytes + p * PAGE_WORDS * 4
        regions.append((base, base + PAGE_HEADER_WORDS * 4,
                        "page_head", None))
        nent = min(256, len(all_hdrs) - p * 256)
        ent_end = base + PAGE_HEADER_WORDS * 4 + nent * 18 * 4
        regions.append((base + PAGE_HEADER_WORDS * 4, ent_end,
                        "dir_entry", None))
        regions.append((ent_end, base + PAGE_WORDS * 4,
                        "page_slack", None))
    with open(path, "rb") as f:
        for h in all_hdrs:
            live = h.offset in live_offsets
            rec_start = h.offset - 88
            if not live:
                # a deleted record's whole extent is never read
                regions.append((rec_start, h.offset + 8, "dead", None))
                continue
            regions.append((rec_start, rec_start + 72, "keyblock", None))
            regions.append((rec_start + 72, rec_start + 88, "aux", None))
            if turbo_codec.is_codec_datyp(h.datyp, h.nbits):
                nb = turbo_codec.compressed_payload_length(
                    f, h.offset) * 4
            else:
                nb = h.n_floats * np.dtype(
                    payload_dtype(h.datyp, h.nbits)).itemsize
            key = (h.nomvar, h.ip1, h.ip2, h.ip3, h.datev, h.offset)
            regions.append((h.offset, h.offset + nb, "payload", key))
            pad_end = h.offset + nb + (-nb % 8)   # extent is 8-aligned
            regions.append((h.offset + nb, pad_end, "pad", None))
    return path, pristine_bytes, pristine, regions


def _classify(regions, byte_pos):
    for start, end, kind, key in regions:
        if start <= byte_pos < end:
            return kind, key
    return "pad", None


@pytest.mark.parametrize("seed", range(120))
def test_xdf_corruption_fuzz(xdf_fuzz_corpus, tmp_path, seed):
    """>=100-seed corruption fuzz of the XDF READ path (round 17):
    truncate at a random offset, or flip a random bit (40 of the 120
    seeds steer the flip into the structural regions so the directory
    guards see real traffic). Every outcome must be a loud typed
    exception or a result provably consistent with the pristine file;
    a payload-region flip may change that one record's VALUES (raw
    float payloads carry no checksum — the format's own limit, same as
    librmn) but never its LENGTH and never any other record."""
    import numpy as np

    path, pristine_bytes, pristine, regions = xdf_fuzz_corpus
    rng = np.random.RandomState(1000 + seed)
    data = bytearray(pristine_bytes)
    mode = ("truncate" if seed % 3 == 0 else
            "flip_structural" if seed % 3 == 1 else "flip_anywhere")

    if mode == "truncate":
        cut = int(rng.randint(0, len(data)))
        data = data[:cut]
        flipped_kind, flipped_key = "truncate", None
    else:
        if mode == "flip_structural":
            structural = [r for r in regions if r[2] in
                          ("file_header", "page_head", "dir_entry",
                           "keyblock")]
            start, end, _, _ = structural[
                int(rng.randint(0, len(structural)))]
            pos = int(rng.randint(start, end))
        else:
            pos = int(rng.randint(0, len(data)))
        bit = int(rng.randint(0, 8))
        data[pos] ^= 1 << bit
        flipped_kind, flipped_key = _classify(regions, pos)

    p = str(tmp_path / "damaged.fst")
    with open(p, "wb") as f:
        f.write(bytes(data))

    try:
        got = _xdf_read_all(p)
    except (ValueError, NotImplementedError, OSError):
        return  # loud typed exception: the contract's happy path
    # success: everything returned must be consistent with pristine
    assert set(got) <= set(pristine), \
        f"{flipped_kind}: fabricated records from a corrupt file"
    if mode == "truncate":
        assert set(got) == set(pristine), \
            "truncate: silently dropped records without an error"
    for key, d in got.items():
        if key == flipped_key:
            continue  # the flipped payload's VALUES may change (no
            #             checksum in the format); length was asserted
        assert np.array_equal(d, pristine[key]), \
            f"{flipped_kind}: silently wrong array for {key}"


def test_xdf_corruption_targeted(xdf_fuzz_corpus, tmp_path):
    """Deterministic structural corruptions, one per guard: chain
    cycle, out-of-range nent, early chain termination (nxt_addr -> 0),
    checksum damage, swapped swa pointers, truncated final payload."""
    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        FILE_HEADER_WORDS, PAGE_HEADER_WORDS, PAGE_WORDS,
        read_xdf_directory)

    path, pristine_bytes, pristine, regions = xdf_fuzz_corpus
    hdr_bytes = FILE_HEADER_WORDS * 4
    page0 = hdr_bytes

    def damage(mutate):
        data = bytearray(pristine_bytes)
        mutate(data)
        p = str(tmp_path / "t.fst")
        with open(p, "wb") as f:
            f.write(bytes(data))
        return p

    def word(data, byte_pos, value):
        data[byte_pos:byte_pos + 4] = int(value).to_bytes(4, "big")

    first_page_unit = 1 + (FILE_HEADER_WORDS // 2)

    # 1. page chain cycle: page 0's nxt_addr points back at page 0
    p = damage(lambda d: word(d, page0 + 4 * 4, first_page_unit))
    with pytest.raises(ValueError, match="cycle|nbd|nrec"):
        read_xdf_directory(p)

    # 2. nent out of range
    p = damage(lambda d: word(d, page0 + 5 * 4, 100_000))
    with pytest.raises(ValueError, match="entries"):
        read_xdf_directory(p)

    # 3. early chain termination: nxt_addr -> 0 silently drops page 2
    #    without the nrec census check
    p = damage(lambda d: word(d, page0 + 4 * 4, 0))
    with pytest.raises(ValueError, match="nrec|nbd"):
        read_xdf_directory(p)

    # 4. a flipped directory-entry word fails the page XOR checksum
    p = damage(lambda d: word(d, page0 + PAGE_HEADER_WORDS * 4 + 8,
                              0xDEADBEEF))
    with pytest.raises(ValueError, match="checksum"):
        read_xdf_directory(p)

    # 5. two records' swa pointers swapped (directory says record A
    #    lives where record B does): caught by the record-local keys
    #    even when the checksum is recomputed to match
    data = bytearray(pristine_bytes)
    e0 = page0 + PAGE_HEADER_WORDS * 4          # entry 0
    e1 = e0 + 18 * 4                            # entry 1
    w0 = data[e0 + 4:e0 + 8]
    w1 = data[e1 + 4:e1 + 8]
    data[e0 + 4:e0 + 8], data[e1 + 4:e1 + 8] = w1, w0
    # recompute the page checksum so only verify_record_keys stands
    nent0 = int.from_bytes(data[page0 + 5 * 4:page0 + 6 * 4], "big")
    ent = np.frombuffer(
        bytes(data[e0:e0 + nent0 * 18 * 4]), dtype=">u4")
    word(data, page0 + 6 * 4,
         int(np.bitwise_xor.reduce(ent.astype("uint32"))))
    p = str(tmp_path / "swap.fst")
    with open(p, "wb") as f:
        f.write(bytes(data))
    with pytest.raises(ValueError, match="record-local|disagree"):
        _xdf_read_all(p)

    # 6. truncation inside the FINAL record's payload: short read must
    #    raise, never return a short array
    last_payload = max(r for r in regions if r[2] == "payload")
    p = damage(lambda d: d.__delitem__(
        slice(last_payload[0] + 4, len(d))))
    with pytest.raises(ValueError, match="truncated|ends"):
        _xdf_read_all(p)


def test_xdf_foreign_layout_census_relaxation(tmp_path):
    """Files NOT written by this engine must not be falsely rejected
    (round 18, ADVICE): the reference documents nrec as the number of
    VALID records (erased entries stay in the pages) and never
    validates the page chksum on read ('not valid when in core'), so an
    authentic librmn file with erased records and a stale checksum is
    legal. Foreign layout is told apart by a nonzero key-descriptor
    table (librmn always writes bit descriptors there; this writer
    zeroes it). Native files keep the strict guards — pinned again here
    and by the corruption fuzz above."""
    import warnings

    import numpy as np

    from fstd2pandas_spark.sources.xdf_format import (
        FILE_HEADER_FIXED_WORDS, FILE_HEADER_WORDS, read_xdf_directory,
        write_xdf)

    recs = _xdf_fuzz_corpus_records(n=10)
    for i in (3, 7):
        recs[i]["deleted"] = True
    path = str(tmp_path / "native.fst")
    write_xdf(path, recs)
    pristine = _xdf_read_all(path)
    nvalid = len(pristine)
    assert nvalid == 10 - 2

    data = bytearray(open(path, "rb").read())

    def word(buf, byte_pos, value):
        buf[byte_pos:byte_pos + 4] = int(value).to_bytes(4, "big")

    page0 = FILE_HEADER_WORDS * 4
    chksum_pos = page0 + 6 * 4
    stored = int.from_bytes(data[chksum_pos:chksum_pos + 4], "big")

    # --- foreign: key table nonzero + librmn nrec semantics + stale
    # checksum -> reads fine (with a warning), same records
    foreign = bytearray(data)
    word(foreign, FILE_HEADER_FIXED_WORDS * 4, 0x00CAFE01)
    word(foreign, 13 * 4, nvalid)             # nrec = valid only
    word(foreign, chksum_pos, (stored ^ 0x5A5A5A5A) or 1)
    fpath = str(tmp_path / "foreign.fst")
    open(fpath, "wb").write(bytes(foreign))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = _xdf_read_all(fpath)
    assert any("checksum" in str(x.message) for x in w)
    # offsets are part of the pristine keys; compare metadata + values
    assert {k[:5] for k in got} == {k[:5] for k in pristine}
    by_meta = {k[:5]: v for k, v in pristine.items()}
    for k, d in got.items():
        assert np.array_equal(d, by_meta[k[:5]])

    # --- foreign file with a provably damaged chain still raises:
    # fewer valid records walked than nrec declares
    broken = bytearray(foreign)
    word(broken, 13 * 4, nvalid + 1)
    bpath = str(tmp_path / "foreign_broken.fst")
    open(bpath, "wb").write(bytes(broken))
    with pytest.raises(ValueError, match="nrec"):
        read_xdf_directory(bpath)

    # --- native strict guards unchanged: the SAME edits on a
    # zeroed-key-table file are corruption
    nat1 = bytearray(data)
    word(nat1, 13 * 4, nvalid)                # nrec != walked total
    npath1 = str(tmp_path / "native_nrec.fst")
    open(npath1, "wb").write(bytes(nat1))
    with pytest.raises(ValueError, match="nrec"):
        read_xdf_directory(npath1)
    nat2 = bytearray(data)
    word(nat2, chksum_pos, (stored ^ 0x5A5A5A5A) or 1)
    npath2 = str(tmp_path / "native_chk.fst")
    open(npath2, "wb").write(bytes(nat2))
    with pytest.raises(ValueError, match="checksum"):
        read_xdf_directory(npath2)


# fstrec container corruption fuzz (round 17, the XDF contract applied
# to the portable container): FSTR0002 adds a directory CRC32, and the
# n_floats==ni*nj*nk / offset-continuity invariants hold on legacy
# FSTR0001 files too, so no header flip can silently remap a record
# onto the wrong payload bytes on either version.


def _fstrec_fuzz_file(tmp_path, n=150):
    import numpy as np

    from fstd2pandas_spark.sources.fstrec_format import write_fstrec

    rng = np.random.RandomState(23)
    recs = []
    for i in range(n):
        ni, nj = int(rng.randint(1, 6)), int(rng.randint(1, 4))
        recs.append(dict(
            nomvar=["TT", "UU", "GZ"][i % 3], typvar="P",
            etiket=f"FZ{i % 100:03d}", grtyp="Z",
            ni=ni, nj=nj, nk=1, dateo=442998800 + i,
            ip1=i, ip2=i % 30, ip3=i, deet=300, npas=i % 50,
            datyp=5, nbits=32, ig1=0, ig2=0, ig3=0, ig4=0,
            datev=442998800 + i,
            d=rng.randn(ni * nj).astype("<f4")))
    path = str(tmp_path / "pristine.fstrec")
    write_fstrec(path, recs)
    return path, recs


@pytest.mark.parametrize("seed", range(60))
def test_fstrec_corruption_fuzz(tmp_path, seed):
    """Truncate at a random offset or flip a random bit: every outcome
    is a loud typed exception or — for flips landing in a payload —
    results where only that record's VALUES change (float payloads
    carry no checksum; lengths and all other records must hold)."""
    import numpy as np

    from fstd2pandas_spark.sources.fstrec_format import (
        HEADER_SIZE, _PREFIX, read_directory, read_payload)

    path, recs = _fstrec_fuzz_file(tmp_path)
    pristine_bytes = open(path, "rb").read()
    hdr_end = _PREFIX + HEADER_SIZE * len(recs)

    def read_all(p):
        out = {}
        with open(p, "rb") as f:
            for h in read_directory(p):
                d = read_payload(f, h)
                assert len(d) == h.ni * h.nj * h.nk, "wrong-length array"
                out[h.ip3] = (h.nomvar, h.etiket, d)
        return out

    pristine = read_all(path)
    rng = np.random.RandomState(4000 + seed)
    data = bytearray(pristine_bytes)
    if seed % 2 == 0:
        cut = int(rng.randint(0, len(data)))
        data = data[:cut]
        in_payload = False
    else:
        pos = int(rng.randint(0, len(data)))
        data[pos] ^= 1 << int(rng.randint(0, 8))
        in_payload = pos >= hdr_end
    p = str(tmp_path / "damaged.fstrec")
    with open(p, "wb") as f:
        f.write(bytes(data))
    try:
        got = read_all(p)
    except (ValueError, UnicodeDecodeError, OSError):
        return
    # success: possible only for a payload-region flip (the CRC covers
    # every header byte; truncation always hits a guard)
    assert in_payload, "structural corruption read back silently"
    assert set(got) == set(pristine)
    diff = [k for k in got
            if got[k][:2] != pristine[k][:2]
            or not np.array_equal(got[k][2], pristine[k][2])]
    assert len(diff) <= 1, "one payload flip changed multiple records"


def test_fstrec_v1_legacy_read(tmp_path):
    """FSTR0001 files (no directory CRC) remain readable, and the
    version-independent extent invariants still guard them."""
    import struct

    import numpy as np

    from fstd2pandas_spark.sources.fstrec_format import (
        HEADER_SIZE, _PREFIX, _PREFIX_V1, maybe_fstrec, read_directory,
        read_payload)

    path, recs = _fstrec_fuzz_file(tmp_path)
    v2 = open(path, "rb").read()
    # rewrite as v1: old magic, no crc word, offsets shifted back by 4
    n = len(recs)
    hdrs = bytearray(v2[_PREFIX:_PREFIX + HEADER_SIZE * n])
    for i in range(n):
        off_at = i * HEADER_SIZE + HEADER_SIZE - 12  # Q offset, I n_floats
        (off,) = struct.unpack_from("<Q", hdrs, off_at)
        struct.pack_into("<Q", hdrs, off_at, off - 4)
    v1 = (b"FSTR0001" + struct.pack("<I", n) + bytes(hdrs)
          + v2[_PREFIX + HEADER_SIZE * n:])
    p1 = str(tmp_path / "legacy.fstrec")
    with open(p1, "wb") as f:
        f.write(v1)
    assert maybe_fstrec(p1)
    hdrs_read = read_directory(p1)
    assert len(hdrs_read) == n
    with open(p1, "rb") as f:
        for h, r in zip(hdrs_read, recs):
            assert h.nomvar == r["nomvar"]
            assert np.array_equal(read_payload(f, h), r["d"])
    # a flipped extent on v1 (no CRC) is still caught by the
    # continuity invariant
    bad = bytearray(v1)
    off_at = _PREFIX_V1 + HEADER_SIZE - 12
    (off,) = struct.unpack_from("<Q", bad, off_at)
    struct.pack_into("<Q", bad, off_at, off + 8)
    p2 = str(tmp_path / "legacy_bad.fstrec")
    with open(p2, "wb") as f:
        f.write(bytes(bad))
    with pytest.raises(ValueError, match="contiguous|n_floats"):
        read_directory(p2)


def test_split_large_files_into_multiple_tasks(registered, records,
                                               tmp_path):
    """round 17: read parallelism must not be capped by the file count
    — a container larger than split_target_bytes plans as multiple
    tasks over contiguous directory-index ranges. Forced tiny target:
    same multiset as the unsplit read (rows, keys, payloads), filters
    still push down, and the metadata-only scan splits too."""
    out = str(tmp_path / "one_big_file")
    records.coalesce(1).write.format("fstrec").mode("overwrite").save(out)

    # fresh load per query throughout — the documented safe pattern for
    # pushdown loads (see test_upstream_pushdown_shares_plan_across_
    # derived_queries: a filtered child would otherwise pollute its
    # parent's later executions, an upstream Spark 4.1 bug this test
    # first tripped over)
    def plain():
        return registered.read.format("fstrec").load(out)

    def split(**opts):
        r = registered.read.format("fstrec").option(
            "split_target_bytes", "2048")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(out)

    n_plain = plain().rdd.getNumPartitions()
    assert split().rdd.getNumPartitions() > n_plain

    key = ("nomvar", "typvar", "grid", "ip1", "ip2", "datev", "key")
    p = [tuple(r[c] for c in key) + (tuple(r.d),)
         for r in plain().collect()]
    s = [tuple(r[c] for c in key) + (tuple(r.d),)
         for r in split().collect()]
    assert sorted(p) == sorted(s) and len(p) == records.count()

    # pushed filters evaluate per-range with global keys intact
    tt_p = sorted(r.key for r in plain()
                  .filter(F.col("nomvar") == "TT").collect())
    tt_s = sorted(r.key for r in split()
                  .filter(F.col("nomvar") == "TT").collect())
    assert tt_p == tt_s and tt_p

    meta = split(with_data="false")
    assert meta.count() == records.count()
    assert all(r.d is None for r in meta.select("d").collect())

    # split_target_bytes=0 disables splitting
    off = (registered.read.format("fstrec")
           .option("split_target_bytes", "0").load(out))
    assert off.rdd.getNumPartitions() == n_plain


# ------------------------------------------------------------ round 17
# Upstream Spark 4.1 Python-DataSource pushdown plan sharing: the toy
# source below has NOTHING of this repo in it, isolating the bug to
# pyspark itself. With filter pushdown on, executing a fully-pushed
# filtered child and then re-executing the parent DataFrame returns
# the CHILD's rows (last planning wins for the shared load). The
# strict xfail fails the suite the day a Spark upgrade fixes it — the
# signal to retire the fstrec docstring warning and the per-load
# option("pushdown", "false") escape hatch.


def _toy_datasource():
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        EqualTo, InputPartition)

    class ToyReader(DataSourceReader):
        def __init__(self):
            self.keep = None

        def pushFilters(self, filters):
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("a",):
                    self.keep = f.value
                else:
                    yield f

        def partitions(self):
            return [InputPartition(0)]

        def read(self, p):
            for i in range(10):
                if self.keep is None or i == self.keep:
                    yield (i,)

    class Toy(DataSource):
        @classmethod
        def name(cls):
            return "toy_pushshare"

        def schema(self):
            return "a int"

        def reader(self, schema):
            return ToyReader()

    return Toy


@pytest.mark.xfail(
    strict=True,
    reason="upstream pyspark 4.1.2: planned Python-DataSource scan is "
           "shared across queries derived from one load; a fixed Spark "
           "makes this pass and the fstrec warning can be retired")
def test_upstream_pushdown_shares_plan_across_derived_queries(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(_toy_datasource())
    except Exception:
        pass  # already registered in this session
    df = spark.read.format("toy_pushshare").load()
    assert df.count() == 10
    assert df.filter(F.col("a") == 3).count() == 1
    # a fixed Spark returns 10 here; 4.1.2 returns the child's 1
    assert df.count() == 10


def test_fstrec_pushdown_option_escape(registered, records, tmp_path):
    """option('pushdown', 'false') makes a shared load safe: the
    filtered child still answers correctly (engine-side filter) and
    the parent is immune to the upstream plan sharing."""
    out = str(tmp_path / "shared")
    records.write.format("fstrec").mode("overwrite").save(out)
    df = (registered.read.format("fstrec")
          .option("pushdown", "false").load(out))
    n = df.count()
    assert n == records.count()
    tt = df.filter(F.col("nomvar") == "TT").count()
    assert tt == 10
    assert df.count() == n        # parent unpolluted
    # and the documented safe pattern for pushdown loads: re-load
    fresh = registered.read.format("fstrec").load(out)
    assert fresh.count() == n


def test_fstrec_reader_pushdown_option_and_path_filters(tmp_path):
    """option('pushdown', 'false') hands every filter back to Spark
    from the one reader class, and ``path`` filters are a per-file
    scalar test that combines with the column masks."""
    from pyspark.sql.datasource import EqualTo, In, Not, StringEndsWith

    from fstd2pandas_spark.sources.fst_datasource import (
        _FilePartition, FstRecReader)
    from fstd2pandas_spark.sources.fstrec_format import write_fstrec

    recs = [dict(
        nomvar=["TT", "UU", "HY"][i % 3], typvar="P", etiket="E",
        grtyp="Z", ni=1, nj=1, nk=1, dateo=442998800, ip1=i, ip2=0,
        ip3=0, deet=300, npas=0, datyp=5, nbits=32, ig1=1, ig2=2, ig3=0,
        ig4=0, datev=442998800, d=[float(i)]) for i in range(9)]
    p = str(tmp_path / "n.fstrec")
    write_fstrec(p, recs)

    off = FstRecReader({"path": p, "pushdown": "false"})
    fls = [EqualTo(("nomvar",), "TT"), In(("ip1",), (1, 2))]
    assert list(off.pushFilters(fls)) == fls and not off.filters

    def keys(*fls):
        reader = FstRecReader({"path": p})
        assert not list(reader.pushFilters(list(fls)))
        return sorted(k for b in reader.read(_FilePartition(p))
                      for k in b.column("key").to_pylist())

    assert keys(EqualTo(("path",), p)) == list(range(1, 10))
    assert keys(Not(StringEndsWith(("path",), ".fstrec"))) == []
    assert keys(EqualTo(("path",), p), EqualTo(("nomvar",), "UU")) \
        == [2, 5, 8]


def test_fstrec_writer_abort_removes_tmp(tmp_path):
    """A failed write job's abort() drops <path>/_tmp/ and its partial
    task files, leaving the output directory as it was."""
    from fstd2pandas_spark.sources.fst_datasource import FstRecWriter

    out = tmp_path / "out"
    (out / "_tmp").mkdir(parents=True)
    (out / "_tmp" / "part-00000-deadbeef.fstrec").write_bytes(b"partial")
    FstRecWriter({"path": str(out)}, overwrite=False).abort([])
    assert not (out / "_tmp").exists() and out.is_dir()


def test_fstrec_spill_write_byte_identical(tmp_path, monkeypatch):
    """Round 18 writer memory ceiling: the streaming consumption with a
    sidecar spill (forced here with a 64-byte threshold) produces a
    byte-identical container to the in-memory assembly, leaves no
    sidecar behind, and a validation failure mid-stream still writes
    NOTHING (all-or-nothing per file, as before)."""
    import numpy as np

    from fstd2pandas_spark.sources import fstrec_format as ff

    rng = np.random.RandomState(31)
    recs = []
    for i in range(20):
        ni, nj = int(rng.randint(1, 9)), int(rng.randint(1, 7))
        recs.append(dict(
            nomvar=["TT", "UU"][i % 2], typvar="P", etiket=f"SP{i:03d}",
            grtyp="Z", ni=ni, nj=nj, nk=1, dateo=442998800 + i,
            ip1=i, ip2=i % 5, ip3=i, deet=300, npas=i, datyp=5,
            nbits=32, ig1=1, ig2=2, ig3=0, ig4=0,
            datev=442998800 + 10 * i,
            d=rng.randn(ni * nj).astype("<f4")))

    p_mem = tmp_path / "mem.fstrec"
    assert ff.write_fstrec(str(p_mem), recs) == 20

    monkeypatch.setattr(ff, "_SPILL_BYTES", 64)
    p_spill = tmp_path / "spill.fstrec"
    # an ITERATOR, like the datasource writer's row stream
    assert ff.write_fstrec(str(p_spill), iter(recs)) == 20
    assert p_spill.read_bytes() == p_mem.read_bytes()
    assert not (tmp_path / "spill.fstrec.spill").exists()

    bad = recs[:3] + [dict(recs[0], d=None)]
    with pytest.raises(ValueError, match="no data array"):
        ff.write_fstrec(str(tmp_path / "bad.fstrec"), iter(bad))
    assert not (tmp_path / "bad.fstrec").exists()
    assert not (tmp_path / "bad.fstrec.spill").exists()

    # write_xdf takes iterators too, and spills past its threshold to
    # a byte-identical file with no sidecar left behind
    from fstd2pandas_spark.sources import xdf_format as xf

    p_x1, p_x2 = tmp_path / "a.fst", tmp_path / "b.fst"
    write_n = xf.write_xdf(str(p_x1), recs)
    assert write_n == 20
    monkeypatch.setattr(xf, "_SPILL_BYTES", 64)
    assert xf.write_xdf(str(p_x2), iter(recs)) == 20
    assert p_x1.read_bytes() == p_x2.read_bytes()
    assert not (tmp_path / "b.fst.spill").exists()
    assert len(xf.read_xdf_directory(str(p_x1))) == 20
    with pytest.raises(ValueError, match="NULL|no data array"):
        xf.write_xdf(str(tmp_path / "bad.fst"), iter(bad))
    assert not (tmp_path / "bad.fst").exists()
    assert not (tmp_path / "bad.fst.spill").exists()


def test_fat_record_arrow_batch_cap(tmp_path):
    """Fat records chunk by ELEMENT COUNT (round 18: the cap is also
    the IPC pipelining unit — 1 Mi floats = 4 MiB values buffer per
    batch, measured optimum): multi-record batches stay at or under the
    cap, a single over-cap record rides alone, every value and every
    global key survives the chunking."""
    import numpy as np
    import pyarrow as pa

    from fstd2pandas_spark.sources.fst_datasource import (
        _FilePartition, FstRecReader)
    from fstd2pandas_spark.sources.fstrec_format import write_fstrec

    CAP = 1024 * 1024
    rng = np.random.RandomState(3)
    sizes = [400_000] * 6 + [1_500_000]     # 2-per-batch, then solo
    recs, want = [], []
    for i, m in enumerate(sizes):
        d = rng.randn(m).astype("<f4")
        want.append(d)
        recs.append(dict(
            nomvar="TT", typvar="P", etiket=f"FAT{i:03d}", grtyp="Z",
            ni=m // 1000, nj=1000, nk=1, dateo=442998800, ip1=i,
            ip2=0, ip3=i, deet=300, npas=i, datyp=5, nbits=32,
            ig1=1, ig2=2, ig3=0, ig4=0, datev=442998800, d=d))
    p = str(tmp_path / "fat.fstrec")
    write_fstrec(p, recs)

    reader = FstRecReader({"path": p, "split_target_bytes": "0"})
    batches = list(reader.read(_FilePartition(p, 0, 1)))
    assert len(batches) >= 4            # 6x400k -> 3 batches, 1 solo
    keys, vals = [], []
    for b in batches:
        col = b.column("d")
        n_vals = len(col.values)
        if b.num_rows > 1:
            assert n_vals <= CAP, (b.num_rows, n_vals)
        keys.extend(b.column("key").to_pylist())
        for row in col:
            vals.append(np.asarray(row.values))
    assert keys == list(range(1, len(sizes) + 1))
    for got, exp in zip(vals, want):
        assert np.array_equal(got, exp)


def test_turbo_pack_bitstream_paths_bit_exact():
    """Round 18: the vectorized pack/unpack pair, pinned on every
    structural path — single-width fast path, mixed widths, all-zero
    blocks, >56-bit tokens (the 8-byte-window ceiling: those blocks
    take the per-bit fallback), a short final block, singleton and
    empty inputs — and the stream stays identical to the documented
    width-prefixed layout (a hand-decoded block)."""
    import numpy as np

    from fstd2pandas_spark.sources import turbo_codec as tc

    rng = np.random.RandomState(41)

    def rt(toks):
        toks = np.asarray(toks, dtype="uint64")
        words = tc._pack_bits(toks)
        got = tc._unpack_bits(words, len(toks))
        assert np.array_equal(got, toks), toks[:8]
        return words

    rt(np.zeros(0, dtype="uint64"))                      # empty
    rt(np.array([5], dtype="uint64"))                    # singleton
    rt(np.zeros(200, dtype="uint64"))                    # zero widths
    rt(rng.randint(0, 1 << 17, 32 * 40))                 # single width, full
    rt(rng.randint(0, 1 << 17, 32 * 40 + 7))             # short final block
    mixed = rng.randint(0, 1 << 20, 32 * 64).astype("uint64")
    mixed[32 * 10:32 * 20] >>= np.uint64(12)             # mixed widths
    mixed[32 * 30:32 * 31] = 0                           # zero block inside
    rt(mixed)
    wide = rng.randint(0, 1 << 20, 32 * 8).astype("uint64")
    wide[:32] = (np.uint64(1) << np.uint64(58)) - np.uint64(1)   # 58-bit
    rt(wide)

    # layout anchor: one block of two tokens [3, 1] -> width prefix
    # 000010 then 10 01, zero-padded to a word
    words = tc._pack_bits(np.array([3, 1], dtype="uint64"))
    bits = np.unpackbits(np.frombuffer(words.tobytes(), dtype="uint8"))
    assert list(bits[:10]) == [0, 0, 0, 0, 1, 0, 1, 1, 0, 1]
    assert not bits[10:].any()


def test_columnar_pushdown_mask_parity(tmp_path):
    """Round 18 columnar pushdown: every pushed-filter type evaluated
    by the vectorized mask must select EXACTLY the rows a per-record
    Python evaluation over the boxed (decoded, stripped) headers
    selects — on both container formats, including the padded-bytes
    string comparisons, the virtual grid/key columns, and the
    trailing-whitespace fallback literal."""
    import numpy as np
    from pyspark.sql.datasource import (
        EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In,
        IsNotNull, IsNull, LessThan, LessThanOrEqual, Not,
        StringContains, StringEndsWith, StringStartsWith)

    from fstd2pandas_spark.sources.fst_datasource import (
        _FilePartition, FstRecReader)
    from fstd2pandas_spark.sources.fstrec_format import write_fstrec
    from fstd2pandas_spark.sources.xdf_format import write_xdf
    from fstd2pandas_spark.sources import fstrec_format, xdf_format

    rng = np.random.RandomState(77)
    recs = []
    for i in range(400):
        ni, nj = int(rng.randint(1, 5)), int(rng.randint(1, 4))
        # ' T' and ' HY' exercise the leading-whitespace divergence:
        # fstrec right-strips (reads back ' T'), XDF strips both sides
        # (reads back 'T') — the vectorized mask must follow each
        # format's boxed semantics, including the XDF fallback off the
        # padded-bytes fast path
        nomvar = ["TT", "UU", "HY", ">>", "P0", "T", " T",
                  " HY"][i % 8]
        recs.append(dict(
            nomvar=nomvar, typvar=["P", "X", "P "][i % 3].strip() or "P",
            etiket=f"E{i % 7:02d}", grtyp=["Z", "X", "E"][i % 3],
            ni=ni, nj=nj, nk=1, dateo=442998800, ip1=i % 50, ip2=i % 9,
            ip3=i, deet=300, npas=i % 77, datyp=5, nbits=32,
            ig1=i % 13, ig2=i % 4, ig3=0, ig4=i % 3,
            datev=442998800 + 10 * (i % 40),
            d=rng.randn(ni * nj).astype("<f4")))
    paths = {}
    p1 = str(tmp_path / "m.fstrec"); write_fstrec(p1, recs); paths[p1] = fstrec_format
    p2 = str(tmp_path / "m.fst"); write_xdf(p2, recs); paths[p2] = xdf_format

    def grid_of(h):
        if h.nomvar in ("^>", ">>", "^^", "!!", "!!SF"):
            return f"{h.ip1}{h.ip2}"
        if h.nomvar == "HY":
            return "None"
        return f"{h.ig1}{h.ig2}"

    filters = [
        [EqualTo(("nomvar",), "TT")],
        [EqualTo(("nomvar",), "T")],          # prefix of 'TT'
        [GreaterThan(("nomvar",), "T")],      # range across prefixes
        [GreaterThanOrEqual(("nomvar",), "TT")],
        [LessThan(("etiket",), "E03")],
        [LessThanOrEqual(("typvar",), "P")],
        [In(("nomvar",), ("TT", "HY", ">>"))],
        [EqualTo(("nomvar",), "TT "), ],      # trailing-space literal
        [In(("grtyp",), ("Z", "E"))],
        [EqualTo(("ip2",), 4)],
        [GreaterThan(("ip3",), 200), LessThanOrEqual(("ip3",), 350)],
        [EqualTo(("grid",), "None")],
        [In(("grid",), ("12", "00", "None"))],
        [GreaterThan(("key",), 350)],
        [IsNotNull(("nomvar",)), EqualTo(("datev",), 442998810)],
        [EqualTo(("nomvar",), "ZZZZZZZ")],    # overlong literal
        # round-18 extensions: NOT / null-safe / IsNull / String ops
        [Not(EqualTo(("nomvar",), "TT"))],
        [Not(In(("grtyp",), ("Z",)))],
        [EqualNullSafe(("nomvar",), "UU")],
        [IsNull(("etiket",))],
        [StringStartsWith(("etiket",), "E0")],
        [StringStartsWith(("nomvar",), "T")],
        [StringStartsWith(("nomvar",), "T ")],   # trailing-space prefix
        [StringEndsWith(("etiket",), "3")],
        [StringContains(("etiket",), "0")],
        [StringStartsWith(("grid",), "1")],
        [StringContains(("grid",), "2")],
        [Not(StringStartsWith(("nomvar",), "T"))],
        [StringStartsWith(("nomvar",), "TOOLONGVALUE")],
    ]
    for path, fmt in paths.items():
        if fmt is fstrec_format:
            headers = fmt.read_directory(path)
        else:
            headers = fmt.read_xdf_directory(path)
        for fls in filters:
            def pyval(h, key, col):
                if col == "grid":
                    return grid_of(h)
                if col == "key":
                    return key
                if col == "path":
                    return path
                return getattr(h, col)

            def pymatch(h, key, flt):
                if isinstance(flt, Not):
                    return not pymatch(h, key, flt.child)
                v = pyval(h, key, flt.attribute[0])
                if isinstance(flt, (EqualTo, EqualNullSafe)):
                    return v == flt.value
                if isinstance(flt, In):
                    return v in flt.value
                if isinstance(flt, IsNull):
                    return v is None
                if isinstance(flt, StringStartsWith):
                    return v.startswith(flt.value)
                if isinstance(flt, StringEndsWith):
                    return v.endswith(flt.value)
                if isinstance(flt, StringContains):
                    return flt.value in v
                if isinstance(flt, GreaterThan):
                    return v > flt.value
                if isinstance(flt, GreaterThanOrEqual):
                    return v >= flt.value
                if isinstance(flt, LessThan):
                    return v < flt.value
                if isinstance(flt, LessThanOrEqual):
                    return v <= flt.value
                return v is not None
            want = sorted(
                k for k, h in enumerate(headers, start=1)
                if all(pymatch(h, k, flt) for flt in fls))
            reader = FstRecReader({"path": path,
                                   "split_target_bytes": "0"})
            leftover = list(reader.pushFilters(list(fls)))
            assert not leftover, (path, fls)
            got = []
            for b in reader.read(_FilePartition(path, 0, 1)):
                got.extend(b.column("key").to_pylist())
            assert sorted(got) == want, (path, fls, sorted(got)[:5],
                                         want[:5])
