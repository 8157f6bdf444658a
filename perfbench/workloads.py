"""The benchmark's workloads: inputs, one pass of public calls, and the
check of every call's output against the generator's answers.

A workload's pass is a list of :class:`Call`. Each call goes through the
package's public surface only (``StandardFileReader``/``Writer``, the
registered ``fstrec`` format, ``operators``, ``operators.llm``) and
returns a small summary collected to the driver; ``check`` compares it
with the answer the generator computed in numpy and returns an error
string, or ``None`` when the output is right.

Loads feeding a multi-branch plan (``quick_pressure``, ``apply_mask``
and the writer's ``metadata_cleanup``) pass ``option("pushdown",
"false")``: with pushdown on, sibling filtered branches of one load all
receive the last pushed filter (see NOTES.md). The single-branch catalog
queries keep the pushdown facade.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

import gen

_ID = ["nomvar", "typvar", "etiket", "ip1", "ip2"]
_MEAN = "aggregate(d, 0D, (a, x) -> a + cast(x as double)) / size(d)"
_SUM = "aggregate(d, 0D, (a, x) -> a + cast(x as double))"
_SUM_KEPT = ("aggregate(filter(d, x -> x is not null), 0D, "
             "(a, x) -> a + cast(x as double))")


@dataclass
class Call:
    """One public call: ``run(tracer)`` returns its summary,
    ``check(summary)`` an error string or None. ``layer`` groups calls
    for the traced run."""
    name: str
    layer: str
    run: Callable[[object], object]
    check: Callable[[object], "str | None"]


def _close(a: float, b: float, rtol: float) -> bool:
    return abs(a - b) <= rtol * max(abs(a), abs(b), 1e-30)


def _compare(got: dict, want: dict, rtol: float) -> "str | None":
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return f"keys differ: missing {missing}, unexpected {extra}"
    for k, w in want.items():
        g = got[k]
        if not all(_close(float(x), float(y), rtol) for x, y in zip(g, w)):
            return f"{k}: got {g}, want {w}"
    return None


def _key(r) -> tuple:
    return (r.nomvar, r.typvar, r.etiket, int(r.ip1), int(r.ip2))


def _span_s(sp) -> float:
    return sp["end"] - sp["start"]


class Workload:
    """Inputs plus one pass of calls."""

    name = ""
    #: untimed passes between the cold pass and the measured ones: JIT
    #: compilation runs on into the first warm passes
    WARMUP_PASSES = 1

    def prepare(self, rng, work_dir: str) -> None:
        raise NotImplementedError

    def calls(self, spark) -> "list[Call]":
        raise NotImplementedError

    def layer_probes(self, spark, tracer, runner) -> dict:
        """Per-layer figures measured after the traced pass."""
        return {}

    def throughput(self, pass_s: float) -> dict:
        """The workload's own throughput figures for a pass of
        ``pass_s`` seconds."""
        return {}


# ---------------------------------------------------------------------------
# FST: catalog queries, then operators over a multi-grid XDF corpus
# ---------------------------------------------------------------------------

class FstAnalysis(Workload):
    name = "fst_analysis"
    #: corpus: one XDF file of three grids, 64x48 fields, 3 forecast
    #: times x 6 levels per grid -> 150 records, 1.7 MiB of float32
    NI, NJ, TIMES, LEVELS = 64, 48, 3, 6
    #: catalog: 8 files x 200 records of 16x16 fields, 3 queries a pass
    FILES, RECORDS, CAT_NI, CAT_NJ, QUERIES = 8, 200, 16, 16, 3

    def prepare(self, rng, work_dir):
        self.corpus = os.path.join(work_dir, "corpus")
        self.catalog = os.path.join(work_dir, "catalog")
        self.out = os.path.join(work_dir, "rewrite")
        self.expected = gen.write_analysis_corpus(
            rng, self.corpus, self.NI, self.NJ, self.TIMES, self.LEVELS)
        self.field_bytes = self.expected["field_bytes"]
        cols = gen.write_catalog(rng, self.catalog, self.FILES,
                                 self.RECORDS, self.CAT_NI, self.CAT_NJ)
        self.queries = gen.catalog_queries(rng, cols, self.QUERIES)

    def _load(self, spark):
        return (spark.read.format("fstrec").option("pushdown", "false")
                .load(self.corpus))

    def throughput(self, pass_s):
        return {"field_mib_per_s": self.field_bytes / 2 ** 20 / pass_s}

    def catalog_calls(self) -> "list[Call]":
        """Selective queries through the reader facade: a metadata-only
        count with ``query=`` pushdown, a ``decode_metadata`` query and a
        payload query."""
        from pyspark.sql import functions as F

        from fstd2pandas_spark import StandardFileReader

        out = []
        for q in self.queries:
            def run(tr, q=q):
                with tr.span("api.build"):
                    df = StandardFileReader(
                        self.catalog, query=q["query"],
                        with_data=q["kind"] == "payload",
                        decode_metadata=q["kind"] == "decoded").to_spark()
                with tr.span("api.action") as sp:
                    if q["kind"] == "count":
                        res = df.count()
                    elif q["kind"] == "decoded":
                        res = df.select("level", "ip1_kind").collect()
                    else:
                        res = df.select(F.expr(_SUM).alias("s")).collect()
                if sp is not None:
                    sp["returned"] = res if q["kind"] == "count" \
                        else len(res)
                return res

            def check(res, q=q):
                if q["kind"] == "count":
                    return None if res == q["count"] else \
                        f"{q['query']}: {res} records, want {q['count']}"
                if len(res) != q["count"]:
                    return f"{q['query']}: {len(res)} rows, want {q['count']}"
                if q["kind"] == "decoded":
                    lvl = float(np.float32(q["level"]))
                    bad = [r for r in res if r.ip1_kind != 2
                           or not _close(r.level, lvl, 1e-6)]
                    return f"{q['query']}: bad decode {bad[:2]}" if bad \
                        else None
                total = sum(r.s for r in res)
                return None if _close(total, q["sum"], 1e-9) else \
                    f"{q['query']}: payload sum {total}, want {q['sum']}"

            out.append(Call(f"query_{q['kind']}", "api", run, check))
        return out

    def calls(self, spark) -> "list[Call]":
        return self.catalog_calls() + self.operator_calls(spark)

    def operator_calls(self, spark) -> "list[Call]":
        """fststat, unit_convert and apply_mask, each on its own load,
        each collecting a per-record summary."""
        from pyspark.sql import functions as F

        from fstd2pandas_spark import StandardFileReader
        from fstd2pandas_spark.operators import (
            apply_mask, fststat, unit_convert)

        exp = self.expected

        def run_fststat(tr):
            # min/max/mean only: min_pos/max_pos cost O(n^2) per record
            # (see NOTES.md) and would swamp every other call
            return fststat(StandardFileReader(self.corpus).to_spark()) \
                .select(*_ID, "min", "max", "mean").collect()

        def check_fststat(rows):
            got = {_key(r): (r["min"], r["max"], r["mean"]) for r in rows}
            return _compare(got, exp["fststat"], 1e-6)

        def run_unit(tr):
            df = unit_convert(StandardFileReader(self.corpus).to_spark(),
                              "kelvin")
            return df.select(*_ID, F.array_min("d").alias("lo"),
                             F.array_max("d").alias("hi")).collect()

        def check_unit(rows):
            # keyed without typvar: the 'U' flag is never set (NOTES.md)
            got = {_key(r)[:1] + _key(r)[2:]: (r.lo, r.hi) for r in rows}
            return _compare(got, exp["unit_convert"], 1e-6)

        def run_mask(tr):
            return apply_mask(self._load(spark)).select(
                *_ID,
                F.expr("size(filter(d, x -> x is not null))").alias("kept"),
                F.expr(_SUM_KEPT).alias("total")).collect()

        def check_mask(rows):
            want = exp["apply_mask"]
            if len(rows) != want["rows"]:
                return f"{len(rows)} rows, want {want['rows']}"
            got = {_key(r): (r.kept, r.total) for r in rows
                   if r.typvar == "P@"}
            return _compare(got, want["masked"], 1e-9)

        return [
            Call("fststat", "operators", run_fststat, check_fststat),
            Call("unit_convert", "operators", run_unit, check_unit),
            Call("apply_mask", "operators", run_mask, check_mask),
        ]

    def pressure_call(self, spark) -> Call:
        """``quick_pressure`` with a per-record summary. It plans 19
        source scans and costs more than the rest of a pass together, so
        it runs once, in the traced run (NOTES.md, Why two workloads)."""
        from pyspark.sql import functions as F

        from fstd2pandas_spark.operators import quick_pressure

        exp = self.expected

        def run(tr):
            return quick_pressure(self._load(spark)).select(
                "nomvar", "grid", "datev", "ip1",
                F.array_min("d").alias("lo"), F.array_max("d").alias("hi"),
                F.expr(_MEAN).alias("mean")).collect()

        def check(rows):
            px = {(r.grid, int(r.datev), int(r.ip1)): (r.lo, r.hi, r.mean)
                  for r in rows if r.nomvar == "PX"}
            n_meta = sum(1 for r in rows if r.nomvar != "PX")
            if n_meta != exp["n_meta"]:
                return f"{n_meta} meta rows, want {exp['n_meta']}"
            return _compare(px, exp["quick_pressure"], 1e-5)

        return Call("quick_pressure", "operators", run, check)

    def rewrite_call(self, spark) -> Call:
        """``StandardFileWriter(mode="write", container="xdf")`` of the
        corpus; the check re-reads the output (untimed)."""
        from pyspark.sql import functions as F

        from fstd2pandas_spark import StandardFileReader, StandardFileWriter

        def run(tr):
            StandardFileWriter(self.out, self._load(spark), mode="write",
                               container="xdf", overwrite=True).to_fst()
            return sum(os.path.getsize(p)
                       for p in glob.glob(os.path.join(self.out, "*.fst")))

        def check(stored_bytes):
            if not stored_bytes:
                return "no container written"
            rows = StandardFileReader(self.out).to_spark().select(
                *_ID, F.array_min("d").alias("lo"),
                F.array_max("d").alias("hi"),
                F.expr(_MEAN).alias("mean")).collect()
            got = {_key(r): (r.lo, r.hi, r.mean) for r in rows}
            if len(rows) != len(got):
                return f"{len(rows) - len(got)} duplicated records"
            return _compare(got, self.expected["fststat"], 1e-6)

        return Call("write_record_table", "sources", run, check)

    def layer_probes(self, spark, tracer, runner):
        """Facade build/action of the traced pass's catalog queries,
        catalog-side source figures (listing, directory reads, scan
        tasks, pushdown selectivity, decode build), corpus-side ones
        (plain scan, single-thread codec), then ``quick_pressure`` and
        the xdf rewrite."""
        from fstd2pandas_spark import StandardFileReader
        from fstd2pandas_spark.functions.meta import with_decoded_columns
        from fstd2pandas_spark.sources import xdf_format

        m = {}
        for part in ("build", "action"):
            m[f"api.{part}_s"] = statistics.median(
                _span_s(s) for s in tracer.spans
                if s["name"] == f"api.{part}")
        # rows the catalog queries' source scans handed to Spark, per
        # row (or counted record) the queries returned
        queries = [s for s in tracer.spans
                   if s.get("layer") == "api" and s["pass_id"] == 1]
        returned = sum(s["returned"] for s in tracer.spans
                       if s["name"] == "api.action" and s["pass_id"] == 1)
        m["sources.records_examined_per_returned"] = sum(
            tracer.total(s, "scan_rows") for s in queries) / max(returned, 1)
        with tracer.span("sources.list_xdf_files") as sp:
            files = xdf_format.list_xdf_files(self.catalog)
        m["sources.list_s"] = _span_s(sp)
        with tracer.span("sources.read_xdf_directory_columns") as sp:
            n = sum(len(xdf_format.read_xdf_directory_columns(p)["nomvar"])
                    for p in files)
        m["sources.directory_us_per_record"] = _span_s(sp) / n * 1e6
        with tracer.span("sources.metadata_count") as sp:
            StandardFileReader(self.catalog, with_data=False).to_spark() \
                .count()
        m["sources.scan_tasks"] = sp["tasks"]
        with tracer.span("functions.with_decoded_columns") as sp:
            with_decoded_columns(
                StandardFileReader(self.catalog, with_data=False).to_spark())
        m["functions.decode_build_s"] = _span_s(sp)

        with tracer.span("sources.scan_count") as sp:
            StandardFileReader(self.corpus).to_spark().count()
        m["sources.scan_exec_s"] = _span_s(sp)
        m.update(codec_rates(self.corpus))

        runner.run_pass([self.pressure_call(spark),
                         self.rewrite_call(spark)])
        if "write_record_table" in runner.results:
            # the span's own time: the runner's latency also holds the
            # span's exit work (listener drain, plan-graph walk)
            [sp] = [s for s in tracer.spans
                    if s.get("call") == "write_record_table"]
            m["write_mib_per_s"] = self.field_bytes / 2 ** 20 / _span_s(sp)
            m["stored_bytes_per_field_byte"] = (
                runner.results["write_record_table"] / self.field_bytes)
        return m


def codec_rates(path: str) -> dict:
    """Single-thread turbo-pack decode and encode rates (float32 MiB/s)
    over every codec-packed record of the XDF files under ``path``."""
    from fstd2pandas_spark.sources import turbo_codec, xdf_format

    packed = []   # (words, dims, decoded field)
    for p in xdf_format.list_xdf_files(path):
        c = xdf_format.read_xdf_directory_columns(p)
        with open(p, "rb") as f:
            for i in range(len(c["nomvar"])):
                datyp, nbits = int(c["datyp"][i]), int(c["nbits"][i])
                if not turbo_codec.is_codec_datyp(datyp, nbits):
                    continue
                off = int(c["offset"][i])
                nw = turbo_codec.compressed_payload_length(f, off)
                f.seek(off)
                words = np.frombuffer(f.read(4 * nw), dtype=">u4")
                dims = (int(c["ni"][i]), int(c["nj"][i]), int(c["nk"][i]),
                        datyp, nbits)
                packed.append((words, dims,
                               turbo_codec.decompress_payload(words, *dims)))
    mib = sum(d.size * 4 for _, _, d in packed) / 2 ** 20
    t0 = time.perf_counter()
    for words, dims, _ in packed:
        turbo_codec.decompress_payload(words, *dims)
    dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _, dims, d in packed:
        turbo_codec.compress_payload(d, *dims)
    enc = time.perf_counter() - t0
    return {"sources.decode_mib_per_s": mib / dec,
            "sources.encode_mib_per_s": mib / enc}


# ---------------------------------------------------------------------------
# LLM dedup: planted duplicates, chains and embedding clusters
# ---------------------------------------------------------------------------

class LlmDedup(Workload):
    name = "llm_dedup"
    #: label propagation keeps speeding up for two passes after the cold
    #: one (NOTES.md, Steadiness)
    WARMUP_PASSES = 2
    #: 1500 random docs + 60 exact copies + 12 near-dup chains of 5;
    #: 40 clusters x 5 embeddings + 300 singletons, dim 64
    BASE, EXACT, CHAINS, CHAIN_LEN, WORDS = 1500, 60, 12, 5, 40
    CLUSTERS, PER_CLUSTER, SINGLES, DIM = 40, 5, 300, 64
    JACCARD, COSINE, BANDS = 0.5, 0.4, 4

    def prepare(self, rng, work_dir):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.d = gen.make_docs(rng, self.BASE, self.EXACT, self.CHAINS,
                               self.CHAIN_LEN, self.WORDS, self.JACCARD)
        self.e = gen.make_embeddings(rng, self.CLUSTERS, self.PER_CLUSTER,
                                     self.SINGLES, self.DIM, self.COSINE)
        self.docs_path = os.path.join(work_dir, "docs.parquet")
        self.emb_path = os.path.join(work_dir, "emb.parquet")
        texts = self.d["texts"]
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string())}), self.docs_path)
        v = self.e["vectors"]
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(len(v)), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32()))}),
            self.emb_path)
        self.docs = len(texts)

    def throughput(self, pass_s):
        return {"docs_per_s": self.docs / pass_s}

    def layer_probes(self, spark, tracer, runner):
        """Precision and recall of the LSH candidates against the
        planted Jaccard pairs."""
        rows = runner.results.get("lsh_candidate_pairs", [])
        got = {(r.doc_a, r.doc_b) for r in rows}
        want = set(self.d["pairs"])
        hit = len(got & want)
        return {"llm.lsh_candidate_pairs.precision": hit / max(len(got), 1),
                "llm.lsh_candidate_pairs.recall": hit / max(len(want), 1)}

    def calls(self, spark):
        from fstd2pandas_spark.operators.llm.cluster import neardup_components
        from fstd2pandas_spark.operators.llm.dedup import (
            exact_dedup, lsh_candidate_pairs, ngram_jaccard_pairs,
            simhash_report_rows)
        from fstd2pandas_spark.operators.llm.similarity import (
            embedding_neardup)

        d, e = self.d, self.e

        def docs():
            return spark.read.parquet(self.docs_path)

        def check_exact(rows):
            got = {int(r.doc_id): int(r.n_copies) for r in rows}
            return None if got == d["exact"] else \
                f"{len(got)} hash groups, want {len(d['exact'])}"

        def check_lsh(rows):
            got = {(r.doc_a, r.doc_b): r.n_bands for r in rows}
            miss = [p for p in d["exact_pairs"]
                    if got.get(p) != self.BANDS]
            return f"exact pairs missing bands: {miss[:3]}" if miss \
                else None

        def check_simhash(rows):
            n = sum(r.v2 for r in rows if r.kind == "bucket")
            if n != self.docs:
                return f"buckets hold {n} docs, want {self.docs}"
            zero = {(r.v1, r.v2) for r in rows
                    if r.kind == "pair" and r.v3 == 0}
            miss = d["exact_pairs"] - zero
            return f"exact pairs without a 0-distance pair: " \
                   f"{sorted(miss)[:3]}" if miss else None

        def run_components(tr):
            return neardup_components(
                ngram_jaccard_pairs(docs(), threshold=self.JACCARD)
            ).collect()

        def check_components(rows):
            got = {int(r.node): int(r.component) for r in rows}
            return None if got == d["components"] else \
                f"{len(got)} labelled nodes, want {len(d['components'])}"

        def check_emb(rows):
            want = e["pairs"]
            bad = [(r.vec_a, r.vec_b) for r in rows
                   if (r.vec_a, r.vec_b) not in want
                   or not _close(r.cos, want[(r.vec_a, r.vec_b)], 1e-5)]
            if bad:
                return f"pairs below the threshold or off: {bad[:3]}"
            # LSH bucketing may split a cluster across a hyperplane
            recall = len(rows) / max(len(want), 1)
            return None if recall >= 0.8 else f"recall {recall:.3f} < 0.8"

        return [
            Call("exact_dedup", "llm",
                 lambda tr: exact_dedup(docs()).collect(), check_exact),
            Call("lsh_candidate_pairs", "llm",
                 lambda tr: lsh_candidate_pairs(docs(), bands=self.BANDS)
                 .collect(), check_lsh),
            Call("simhash_report_rows", "llm",
                 lambda tr: simhash_report_rows(docs()).collect(),
                 check_simhash),
            Call("neardup_components", "llm", run_components,
                 check_components),
            Call("embedding_neardup", "llm",
                 lambda tr: embedding_neardup(
                     spark.read.parquet(self.emb_path),
                     threshold=self.COSINE).collect(), check_emb),
        ]


WORKLOADS = {w.name: w for w in (FstAnalysis, LlmDedup)}
