"""get_spark's engine defaults: the generated-class cache.

Spark keeps compiled whole-stage-codegen classes in one LRU per JVM,
keyed on the generated source. A workload that visits more distinct
classes than the cap, in the same order on every repeat, misses on every
lookup and Janino-compiles every class again. These tests count
compilations with ``CodegenMetrics.METRIC_COMPILATION_TIME``, which
records one sample per cache miss (local mode: driver and executors
share the JVM, so it sees both).
"""

import random

import numpy as np

from fstd2pandas_spark.session import CODEGEN_CACHE_ENTRIES

#: more distinct classes than Spark's default cap of 100
SHAPES = 150


def _compiled(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_codegen_cache(spark):
    assert CODEGEN_CACHE_ENTRIES >= 1000
    got = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert got == CODEGEN_CACHE_ENTRIES


def test_codegen_cache_holds_a_cyclic_working_set(spark):
    """SHAPES distinct whole-stage-codegen classes, visited twice in the
    same order: the repeat compiles nothing. At Spark's cap of 100 the
    repeat recompiles all of them."""
    def shapes():
        # an inlined long literal makes each projection its own class;
        # the odd base keeps them apart from any other test's classes
        for k in range(SHAPES):
            spark.range(1).selectExpr(f"id * {7_000_003 + k} AS v").collect()

    start = _compiled(spark)
    shapes()
    first = _compiled(spark) - start
    assert first >= SHAPES, f"{first} compilations for {SHAPES} shapes"
    shapes()
    assert _compiled(spark) - start - first == 0


def _corpus(spark):
    """60 random docs plus exact copies and one near-duplicate chain,
    and 30 embeddings in 6 tight clusters."""
    rng = random.Random(5)
    vocab = [f"w{i:04d}" for i in range(3000)]
    texts = [" ".join(rng.choices(vocab, k=30)) for _ in range(60)]
    texts += texts[:5]
    toks = texts[10].split()
    for step in range(4):
        toks[3 + 6 * step] = vocab[step]
        texts.append(" ".join(toks))
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id bigint, text string")
    gen = np.random.default_rng(5)
    centers = gen.normal(size=(6, 16))
    vecs = np.repeat(centers, 5, axis=0) + 0.01 * gen.normal(size=(30, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>")
    return docs, emb


def test_dedup_pipeline_repeat_compiles_nothing(spark):
    """The llm_dedup benchmark's calls (exact, MinHash-LSH, SimHash,
    Jaccard pairs into components, embedding near-dups) on a small
    corpus: a second identical run finds every class in the cache."""
    from fstd2pandas_spark.operators.llm.cluster import neardup_components
    from fstd2pandas_spark.operators.llm.dedup import (
        exact_dedup, lsh_candidate_pairs, ngram_jaccard_pairs,
        simhash_report_rows)
    from fstd2pandas_spark.operators.llm.similarity import (
        embedding_neardup)

    docs, emb = _corpus(spark)

    def rows(df):
        return sorted(map(repr, df.collect()))

    def run():
        return [
            rows(exact_dedup(docs)),
            rows(lsh_candidate_pairs(docs)),
            rows(simhash_report_rows(docs)),
            rows(neardup_components(
                ngram_jaccard_pairs(docs, threshold=0.5))),
            rows(embedding_neardup(emb, threshold=0.9, dim=16)),
        ]

    start = _compiled(spark)
    first = run()
    cold = _compiled(spark) - start
    assert cold > 0
    assert run() == first
    assert _compiled(spark) - start - cold == 0
