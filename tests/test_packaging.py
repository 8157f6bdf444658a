"""Installability gate: the repo must build a complete source
distribution with nothing but setuptools (pyproject.toml metadata; the
setup.py shim covers legacy no-wheel environments) and the artifact
must carry every runtime asset — subpackages AND the lookup CSV
package data, whose absence would only surface at the first broadcast
join in production."""

import os
import subprocess
import sys
import tarfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SUBPKGS = ("operators", "operators/llm", "sources", "functions",
            "plans", "streaming", "lookups", "_pyhook")
_CSVS = ("stdvar.csv", "units.csv", "leveltype.csv",
         "thermo_constants.csv", "verticalcoordinatetypes.csv",
         "stationsfb.csv")


def test_sdist_builds_and_imports(tmp_path):
    from setuptools import build_meta

    cwd = os.getcwd()
    os.chdir(REPO)
    try:
        name = build_meta.build_sdist(str(tmp_path))
    finally:
        os.chdir(cwd)
    assert name.endswith(".tar.gz")
    with tarfile.open(tmp_path / name) as t:
        members = t.getnames()
        t.extractall(tmp_path / "x")
    top = name[: -len(".tar.gz")]
    for sub in _SUBPKGS:
        assert f"{top}/fstd2pandas_spark/{sub}/__init__.py" in members, sub
    assert f"{top}/fstd2pandas_spark/_pyhook/sitecustomize.py" in members
    for csv in _CSVS:
        assert f"{top}/fstd2pandas_spark/lookups/{csv}" in members, csv
    assert f"{top}/pyproject.toml" in members

    # the extracted tree must import cold (no repo on the path, cwd
    # elsewhere) and resolve its package-data CSVs
    root = str(tmp_path / "x" / top)
    r = subprocess.run(
        [sys.executable, "-c",
         "import fstd2pandas_spark, fstd2pandas_spark.lookups as lk;"
         "import os; d = os.path.dirname(os.path.abspath(lk.__file__));"
         "print(sorted(f for f in os.listdir(d) if f.endswith('.csv')))"],
        cwd=str(tmp_path), env={**os.environ, "PYTHONPATH": root},
        capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-800:]
    for csv in _CSVS:
        assert csv in r.stdout
