"""The interpreter-start hook for Spark's Python processes and the
per-SparkContext Column memo.

- the hook's lazy ``zipimporter.invalidate_caches`` skips the
  zip-directory re-read while an archive is unchanged, and re-reads
  once it is rewritten (a new module in it then imports);
- a data source's planner call (``partitions()``, run in a planner
  runner) and its ``read()`` (run in a worker forked by pyspark's
  daemon) both run with it installed;
- the hook chains to the ``sitecustomize`` it shadows, once;
- ``per_spark_context`` (the decode cascade's and the funnel fold's
  memo) keys on the live SparkContext by identity: one build per
  context, a rebuild for a new one;
- ``with_decoded_columns``' single tail select puts ``nomvar`` first,
  overwrites an input ``unit`` in place and keeps dotted names whole.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import SparkContext

from fstd2pandas_spark import session
from fstd2pandas_spark._pyhook import sitecustomize as hook
from fstd2pandas_spark.functions import meta


def _write_zip(path, modules: "dict[str, str]") -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ invalidates zip caches lazily; "
                           "the hook installs nothing there")
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
        assert not hook.lazy_zip_invalidation_installed()
        hook.install_lazy_zip_invalidation()
        assert hook.lazy_zip_invalidation_installed()

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


def _probe_source():
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)

    class ProbeReader(DataSourceReader):
        def partitions(self):
            from fstd2pandas_spark._pyhook.sitecustomize import (
                lazy_zip_invalidation_installed)

            return [InputPartition(lazy_zip_invalidation_installed())] * 2

        def read(self, partition):
            from fstd2pandas_spark._pyhook.sitecustomize import (
                lazy_zip_invalidation_installed)

            yield partition.value, lazy_zip_invalidation_installed()

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "lazy_zip_probe"

        def schema(self):
            return "planner boolean, worker boolean"

        def reader(self, schema):
            return ProbeReader()

    return Probe


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ invalidates zip caches lazily; "
                           "the hook installs nothing there")
def test_planner_and_worker_processes_run_the_hook(spark):
    spark.dataSource.register(_probe_source())
    rows = spark.read.format("lazy_zip_probe").load().collect()
    assert [(r.planner, r.worker) for r in rows] == [(True, True)] * 2


def test_hook_chains_the_sitecustomize_it_shadows_once(tmp_path):
    hook_dir = os.path.dirname(os.path.abspath(hook.__file__))
    (tmp_path / "alias").symlink_to(hook_dir)
    other = tmp_path / "other"
    other.mkdir()
    # the marker: whether the invalidation was installed, and how many
    # hook module bodies are running below this one
    (other / "sitecustomize.py").write_text(
        "import os, sys, zipimport\n"
        "f, hooks = sys._getframe(), 0\n"
        "while f:\n"
        "    hooks += (f.f_code.co_name == '<module>' and os.path.realpath(\n"
        "        f.f_code.co_filename) == os.environ['HOOK_FILE'])\n"
        "    f = f.f_back\n"
        "lazy = getattr(zipimport.zipimporter.invalidate_caches,\n"
        "               '_lazy_zip_invalidation', False)\n"
        "with open(os.environ['HOOK_MARKER'], 'a') as out:\n"
        "    out.write(f'{lazy} {hooks}\\n')\n")
    marker = tmp_path / "marker"
    # the hook's directory twice (once through a symlink): both skipped
    # when it looks for the next sitecustomize
    path = os.pathsep.join([hook_dir, str(tmp_path / "alias"), str(other)])
    r = subprocess.run(
        [sys.executable, "-c",
         "import sys, zipimport; print(sys.modules['sitecustomize'].__file__);"
         "print(getattr(zipimport.zipimporter.invalidate_caches,"
         " '_lazy_zip_invalidation', False))"],
        cwd=str(tmp_path), capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": path, "HOOK_MARKER": str(marker),
             "HOOK_FILE": os.path.realpath(hook.__file__)})
    assert r.returncode == 0 and not r.stderr, r.stderr[-800:]
    lazy = str(sys.version_info < (3, 12))
    # the chained module stands in sys.modules, as it would unshadowed
    assert r.stdout.split() == [str(other / "sitecustomize.py"), lazy]
    # it ran once, after the hook had installed the invalidation, below
    # one run of the hook
    assert marker.read_text().splitlines() == [f"{lazy} 1"]


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
