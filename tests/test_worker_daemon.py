"""The executor Python-worker daemon and the per-SparkContext Column memo.

- ``worker_daemon``'s lazy ``zipimporter.invalidate_caches`` skips the
  zip-directory re-read while an archive is unchanged, and re-reads
  once it is rewritten (a new module in it then imports);
- the test session's Python tasks run under it;
- ``get_spark`` keeps pyspark's own daemon when a worker could not
  import the package;
- ``per_spark_context`` (the decode cascade's and the funnel fold's
  memo) keys on the live SparkContext by identity: one build per
  context, a rebuild for a new one;
- ``with_decoded_columns``' single tail select puts ``nomvar`` first,
  overwrites an input ``unit`` in place and keeps dotted names whole.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import SparkContext

from fstd2pandas_spark import session, worker_daemon
from fstd2pandas_spark.functions import meta


def _write_zip(path, modules: "dict[str, str]") -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ invalidates zip caches lazily; "
                           "the daemon only delegates there")
def test_lazy_invalidation_rereads_only_a_changed_archive(tmp_path,
                                                          monkeypatch):
    archive = str(tmp_path / "lazy_pkgs.zip")
    _write_zip(archive, {"lazy_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("lazy_mod_a", "lazy_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # undone at teardown: the patch and the reader spy
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    eager_read = zipimport._read_directory
    try:
        assert importlib.import_module("lazy_mod_a").VALUE == 1
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or eager_read(a))
        assert not worker_daemon.lazy_zip_invalidation_installed()
        worker_daemon.install_lazy_zip_invalidation()
        assert worker_daemon.lazy_zip_invalidation_installed()

        importlib.invalidate_caches()   # first call: reads and stamps
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1, reads

        _write_zip(archive, {"lazy_mod_a": "VALUE = 1\n",
                             "lazy_mod_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2, reads
        assert importlib.import_module("lazy_mod_b").VALUE == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_python_tasks_run_under_the_daemon(spark):
    import pyarrow as pa

    def probe(batches):
        from fstd2pandas_spark.worker_daemon import (
            lazy_zip_invalidation_installed)

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"lazy": [lazy_zip_invalidation_installed()] * b.num_rows})

    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "fstd2pandas_spark.worker_daemon")
    rows = spark.range(4, numPartitions=2).mapInArrow(
        probe, "lazy boolean").collect()
    assert [r.lazy for r in rows] == [sys.version_info < (3, 12)] * 4


def test_daemon_kept_off_when_workers_cannot_import_the_package(
        tmp_path, monkeypatch):
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.setattr(site, "getsitepackages", lambda: [])
    monkeypatch.setattr(site, "getusersitepackages", lambda: "")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._workers_import_package()


def test_per_spark_context_memo_keys_on_context_identity(monkeypatch):
    builds = []

    @session.per_spark_context
    def build(x):
        builds.append(x)
        return [x]

    one, two = object(), object()
    monkeypatch.setattr(SparkContext, "_active_spark_context", one)
    first = build(1)
    assert build(1) is first and builds == [1]
    build(2)
    assert builds == [1, 2]
    monkeypatch.setattr(SparkContext, "_active_spark_context", two)
    assert build(1) is not first and builds == [1, 2, 1]
    # the memo holds one context: coming back to the first rebuilds
    monkeypatch.setattr(SparkContext, "_active_spark_context", one)
    build(1)
    assert builds == [1, 2, 1, 1]


def test_decoded_columns_built_once_per_context(spark, records,
                                                monkeypatch):
    real = SparkContext._active_spark_context

    class NewContext:
        """A stand-in for a new live context over the same gateway."""

        def __getattr__(self, name):
            return getattr(real, name)

    builds = []
    parse = meta.parsed_etiket
    monkeypatch.setattr(meta, "parsed_etiket",
                        lambda c: builds.append(1) or parse(c))
    monkeypatch.setattr(SparkContext, "_active_spark_context", NewContext())
    first = meta._decode_columns()
    a = meta.with_decoded_columns(records)
    b = meta.with_decoded_columns(records.limit(3))
    assert meta._decode_columns() is first and len(builds) == 1
    assert a.columns == b.columns and a.columns[-2:] == ["unit",
                                                         "description"]

    monkeypatch.setattr(SparkContext, "_active_spark_context", NewContext())
    rebuilt = meta._decode_columns()
    assert rebuilt is not first and len(builds) == 2
    assert [str(c) for c in rebuilt] == [str(c) for c in first]


def test_decode_tail_replaces_unit_in_place_and_keeps_odd_names(records):
    """The single tail select: nomvar first (the lookup join's key), an
    input `unit` overwritten where it stood, a dotted input name kept as
    one column."""
    from pyspark.sql import functions as F

    from fstd2pandas_spark.lookups import stdvar_df

    src = records.select(
        "nomvar", F.lit("stale").alias("unit"), F.col("ip1").alias("a.b"),
        "typvar", "etiket", "dateo", "datev", "deet", "npas", "datyp",
        "ip1", "ip2", "ip3")
    out = meta.with_decoded_columns(src)
    assert out.columns[:3] == ["nomvar", "unit", "a.b"]
    assert out.columns.count("unit") == 1
    assert out.columns[-1] == "description"
    row = out.filter("nomvar = 'TT'").select("unit", "`a.b`", "ip1").first()
    assert row["a.b"] == row.ip1
    assert row.unit == stdvar_df().filter("nomvar = 'TT'").first().unit
