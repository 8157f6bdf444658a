"""Tests of the benchmark's own helpers: the tracing helper against a live
session with the UI off, and the generators' answers.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

bench.pin_environment(os.path.join(bench.ROOT, ".perfbench"))
bench.import_engine()

import gen  # noqa: E402
import tracing  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = bench.start_session()
    yield s
    bench.stop_engine(s)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    return d, gen.write_analysis_corpus(np.random.default_rng(0), d, 8, 6,
                                        1, 2)


def _fststat_span(spark, tracer, path):
    from fstd2pandas_spark import StandardFileReader
    from fstd2pandas_spark.operators import fststat

    with tracer.span("fststat") as sp:
        fststat(StandardFileReader(path).to_spark()) \
            .select("min", "max", "mean").collect()
    return sp


def test_stage_metrics_with_ui_off(spark, corpus):
    assert spark.conf.get("spark.ui.enabled") == "false"
    sp = _fststat_span(spark, tracing.Tracer(spark, True), corpus[0])
    assert sp["jobs"] >= 1 and sp["stages"] >= 1 and sp["tasks"] >= 1
    assert sp["executor_run_s"] > 0 and sp["executor_cpu_s"] > 0


def test_fixed_plan_counts_are_exact(spark, corpus):
    """fststat over one file: one job, one stage, one task, one source
    scan — the same on every repetition."""
    tracer = tracing.Tracer(spark, True)
    for _ in range(2):
        sp = _fststat_span(spark, tracer, corpus[0])
        assert (sp["jobs"], sp["stages"], sp["tasks"],
                sp["source_scans"]) == (1, 1, 1, 1)


def test_scan_rows_are_the_rows_the_source_hands_to_spark(spark, corpus):
    """A full scan hands over every record; a pushed-down metadata
    query only the records it selects."""
    from fstd2pandas_spark import StandardFileReader

    tracer = tracing.Tracer(spark, True)
    with tracer.span("all") as full:
        n_all = StandardFileReader(corpus[0], with_data=False) \
            .to_spark().count()
    with tracer.span("tt") as tt:
        n_tt = StandardFileReader(corpus[0], query="nomvar=='TT'",
                                  with_data=False).to_spark().count()
    assert 0 < n_tt < n_all
    assert (full["scan_rows"], tt["scan_rows"]) == (n_all, n_tt)


def test_spans_nest_and_keep_their_own_jobs(spark, corpus, tmp_path):
    tracer = tracing.Tracer(spark, True)
    with tracer.span("outer") as outer:
        inner = _fststat_span(spark, tracer, corpus[0])
    assert inner["parent"] == outer["span_id"]
    assert outer["jobs"] == 0 and tracer.total(outer, "jobs") == 1
    assert 0 <= tracer.self_time(outer) < outer["end"] - outer["start"]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    out = tmp_path / "spans.jsonl"
    tracer.write_jsonl(str(out))
    names = [json.loads(line)["name"] for line in out.read_text().split("\n")
             if line]
    assert names == ["fststat", "outer"]


def test_disabled_tracer_records_nothing(spark, corpus):
    tracer = tracing.Tracer(spark, False)
    assert _fststat_span(spark, tracer, corpus[0]) is None
    assert tracer.spans == []


def test_process_tree_sees_the_jvm_and_workers(spark):
    tree = tracing.process_tree()
    assert os.getpid() in tree
    assert any(st[3] == "java" for st in tree.values())
    assert tracing.tree_rss_bytes() > 0
    # the JVM has started and run jobs, so the tree has used CPU
    assert tracing.tree_cpu_s() > tree[os.getpid()][1]


def test_corpus_answers_are_lossless(corpus):
    """The generated fields survive datyp 134 / nbits 16 bit-exactly, so
    the expected statistics hold whatever the codec does in between."""
    from fstd2pandas_spark.sources.xdf_format import (
        list_xdf_files, read_xdf_directory, read_xdf_payload)

    path, exp = corpus
    [f] = list_xdf_files(path)
    with open(f, "rb") as fh:
        for h in read_xdf_directory(f):
            d = read_xdf_payload(fh, h).astype(np.float64)
            key = (h.nomvar, h.typvar, h.etiket, h.ip1, h.ip2)
            assert (d.min(), d.max()) == exp["fststat"][key][:2]


def test_near_duplicate_chains_force_their_rounds():
    d = gen.make_docs(np.random.default_rng(3), 200, 5, 3, 6, 40, 0.5)
    chains = {}
    for node, comp in d["components"].items():
        chains.setdefault(comp, []).append(node)
    sizes = sorted(len(v) for v in chains.values())
    # three 6-doc chains plus the 2-doc exact-copy groups
    assert sizes.count(6) == 3 and set(sizes) <= {2, 6}
    # a chain is a path: 5 edges per 6 docs, none between non-neighbours
    for nodes in chains.values():
        edges = [p for p in d["pairs"] if p[0] in nodes]
        assert len(edges) == len(nodes) - 1

