"""Plan-shape regression locks: the scale properties the engine is
designed around (SURVEY §4 O1/O2/O10) asserted against actual physical
plans, so a refactor that silently loses pushdown, pruning, a broadcast,
or an exchange reuse fails here rather than at 100 TB."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_parquet_pushdown_and_pruning(spark):
    """O1/O2: a metadata predicate reaches the parquet scan and the read
    schema carries only referenced columns."""
    df = (
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        .filter(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_revenue_join_strategy(spark):
    """O10: small dims broadcast; no cartesian products anywhere."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_minhash_lsh_single_scan_no_join(spark):
    """LSH pair generation is a single-scan bucket aggregation: group by
    (band, bucket), then stream i<j pairs out of the sorted member
    array with two chained Generates. The plan must contain NO join of
    any kind (the old design self-joined the banded rows) — the
    signature subtree is computed once because there is only one scan."""
    import __spark_entry__ as e

    df = e.queries()["doc_minhash_lsh"](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") >= 2  # band explode + pair enumeration


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_ngram_jaccard_reuses_shingle_exchange(spark):
    """The n-gram inverted-index self-join must share ONE repartition
    exchange (ReusedExchange), not rebuild the shingle subtree per side
    — and must never broadcast a side (the build side IS the corpus at
    scale). AQE finalizes exchange reuse at runtime, so execute first
    and assert on the final adaptive plan."""
    import __spark_entry__ as e

    df = e.queries()["doc_ngram_jaccard"](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_no_row_python_udfs_in_gated_queries(spark):
    """UDFs are the slow path: no row-at-a-time Python evaluation in any
    batch gated query. Arrow mapInPandas shows as MapInPandas and is
    allowed only where Python genuinely must touch bytes: the multimodal
    decode kernel (mm_features) and the WARC envelope parser feeding
    doc_langid's warc_sig (a fixed 50-record shard scan, not a corpus
    path)."""
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        if name.startswith("stream_"):
            continue
        plan = _plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        if name == "doc_langid":
            # exactly the ONE WARC shard parse — a corpus-sized Python
            # path appearing here is the regression this lock exists for
            assert plan.count("MapInPandas") == 1, name
        elif name != "mm_features":
            assert "MapInPandas" not in plan, name


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """plans/bucketing.py: a join of two same-bucketed tables runs with
    ZERO shuffle exchanges — the co-located layout the 100 TB design
    prescribes for recurring big-big joins."""
    from fstd2pandas_spark.plans.bucketing import (
        bucketed_join, write_bucketed)

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    write_bucketed(li.select("l_orderkey", "l_quantity")
                   .withColumnRenamed("l_orderkey", "o_orderkey"),
                   "t_li_b", ["o_orderkey"], 4,
                   path=str(tmp_path / "li"))
    write_bucketed(od.select("o_orderkey", "o_totalprice"),
                   "t_od_b", ["o_orderkey"], 4,
                   path=str(tmp_path / "od"))
    try:
        from fstd2pandas_spark.plans.bucketing import read_bucketed

        # merge hint on the input: forbid broadcast (these fixtures are
        # tiny) so the bucket layout is what the planner exercises
        j = (read_bucketed(spark, "t_li_b").hint("merge")
             .join(read_bucketed(spark, "t_od_b"), ["o_orderkey"]))
        assert bucketed_join(spark, "t_li_b", "t_od_b",
                             ["o_orderkey"]).count() == j.count()
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_od_b")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_salted_join_equivalence(spark):
    """plans/salting.py: a salted join returns exactly the unsalted
    result while the physical join key carries the salt (the hot key
    spreads over n_salts reducers)."""
    from fstd2pandas_spark.plans.salting import salted_join

    li = (spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
          .select("l_orderkey", "l_partkey", "l_quantity")
          # manufacture a hot key: fold most orders onto one key
          .withColumn("l_orderkey",
                      F.when(F.col("l_orderkey") % 3 == 0, 1)
                      .otherwise(F.col("l_orderkey"))))
    od = (spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
          .select("o_orderkey", "o_totalprice")
          .withColumnRenamed("o_orderkey", "l_orderkey"))

    plain = li.join(od, ["l_orderkey"]).groupBy().agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(20,4)")
                      * F.col("o_totalprice").cast("decimal(20,4)")), 2)
        .alias("s")).collect()[0]
    salted = salted_join(li, od, ["l_orderkey"], n_salts=8).groupBy().agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(20,4)")
                      * F.col("o_totalprice").cast("decimal(20,4)")), 2)
        .alias("s")).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)

    plan = _plan(salted_join(li.hint("merge"), od, ["l_orderkey"], 8))
    assert "_salt" in plan.split("SortMergeJoin")[1].splitlines()[0]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_boilerplate_join_shape_and_hot_span_cap(spark):
    """Document frequency comes from groupBy(_span).count() + a
    merge-hinted sort-merge join back onto the occurrences — map-side
    partial aggregation compresses a viral span BEFORE the shuffle, and
    no window buffers a hot span's every occurrence in one reducer.
    The span-df table must NOT broadcast (it grows linearly with the
    corpus at min_df=2). With ``max_doc_freq`` set, ultra-hot spans
    bypass the sort-merge path via an explicit broadcast of the tiny
    hot-span set — and the COUNTS are identical either way (the cap
    changes the execution route, never the semantics)."""
    from fstd2pandas_spark.operators.llm.dedup import boilerplate_span_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = boilerplate_span_stats(docs, k=3, min_df=2)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" in plan

    # skew fixture: one span viral across all docs (df=20, > cap), one
    # warm span shared by exactly two docs (df=2, <= cap)
    rows = [(i, "the common viral span "
             + ("warmA warmB warmC" if i < 2 else f"u{i} v{i} w{i}"))
            for i in range(20)]
    synth = spark.createDataFrame(rows, ["doc_id", "text"])
    base = {r["doc_id"]: r["n_boilerplate_spans"]
            for r in boilerplate_span_stats(synth, k=3, min_df=2).collect()}
    capped_df = boilerplate_span_stats(synth, k=3, min_df=2, max_doc_freq=3)
    capped = {r["doc_id"]: r["n_boilerplate_spans"]
              for r in capped_df.collect()}
    assert base == capped
    assert any(v > 0 for v in base.values())
    assert "BroadcastHashJoin" in _plan(capped_df)
    with pytest.raises(ValueError, match="max_doc_freq"):
        boilerplate_span_stats(synth, max_doc_freq=1, min_df=2)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_repetition_and_scrub_are_narrow_maps(spark):
    """repetition_metrics(fold) and the scrub layer are pure projections:
    no Exchange may appear in their plans (the whole point of the fold
    variant — at 100 TB these run at scan speed)."""
    from fstd2pandas_spark.operators.llm import repetition_metrics
    from fstd2pandas_spark.operators.llm.scrub import (
        pii_counts, redact_pii, url_metrics)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for out in (repetition_metrics(docs),
                url_metrics(redact_pii(pii_counts(docs)))):
        plan = _plan(out)
        # the only allowed exchange is ensure_min_partitions' round-robin
        # parallelism raise on the single-file fixture (a no-op at scale)
        shuffles = [ln for ln in plan.splitlines()
                    if "Exchange" in ln and "ReusedExchange" not in ln
                    and "RoundRobinPartitioning" not in ln]
        assert not shuffles, shuffles


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_sessionize_single_exchange(spark):
    """Session windows are ONE shuffle on the session key: no extra
    exchange may creep in (a sort+window formulation would add one)."""
    from fstd2pandas_spark.operators.sessions import sessionize

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(sessionize(ev))
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "ReusedExchange" not in ln]
    assert len(shuffles) == 1, shuffles
    assert "SessionWindow" in plan or "session_window" in plan


def test_apply_mask_pairing_is_one_fold_exchange(spark):
    """round-19 lock: apply_mask's pairing is ONE groupBy pair-fold
    over the pairing key — a single hash exchange, no join, and the
    masked lineage planned exactly once (the r15 self-join formulation
    planned the source per join side and cost two window-sorted
    exchanges plus a sort-merge join)."""
    from fstd2pandas_spark.operators.mask import MASK_GROUP_COLS, apply_mask
    from pyspark.sql import functions as F

    cols = MASK_GROUP_COLS + ["typvar", "datyp", "nbits", "datev", "d"]
    schema = ", ".join(
        f"`{c}` " + ("string" if c in ("nomvar", "typvar", "etiket",
                                       "grtyp", "grid", "path")
                     else "array<float>" if c == "d" else "long")
        for c in cols)
    base = {c: ("x" if c in ("nomvar", "typvar", "etiket", "grtyp",
                             "grid", "path") else 0) for c in cols}
    rows = [tuple(dict(base, nomvar="TT", typvar="P@",
                       d=[1.0])[c] for c in cols),
            tuple(dict(base, nomvar="TT", typvar="@@",
                       d=[1.0])[c] for c in cols)]
    df = spark.createDataFrame(rows, schema)
    plan = _plan(apply_mask(df))
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln
                and "ReusedExchange" not in ln]
    assert len(shuffles) == 1, shuffles
    assert "SortMergeJoin" not in plan and "Join" not in plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_duplicate_spans_join_strategy(spark):
    """The window-hash join back onto occurrences must never broadcast
    the corpus side (the occurrence set IS the corpus at scale) and
    never degenerate to a cartesian product."""
    from fstd2pandas_spark.operators.llm.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = duplicate_spans(docs, k=8)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan  # the merge-hinted semi-join back


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_pq_encode_shuffle_free(spark):
    """With a trained codebook in hand, PQ encoding is a pure narrow
    map — codes for 100 TB of vectors at scan speed, no exchange."""
    from fstd2pandas_spark.operators.llm.similarity import pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = [[[0.1 * (c + j) for j in range(8)] for c in range(16)]
          for _ in range(8)]
    plan = _plan(pq_encode(emb, m=8, ksub=16, dim=64, codebook=cb))
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "ReusedExchange" not in ln
                and "RoundRobinPartitioning" not in ln]
    assert not shuffles, shuffles


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_bm25_broadcasts_query_terms_only(spark):
    """BM25: the query-term set broadcasts onto the postings (the only
    broadcast joins besides the 1-row stats/df tables); the corpus-
    scale postings side is never broadcast, and nothing is cartesian
    except the deliberate 1-row stats crossJoin."""
    from fstd2pandas_spark.operators.llm.retrieval import bm25_topk

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(bm25_topk(docs, {0: "the data"}, k=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the in-row tf fold means ONE Generate per postings consumer (the
    # document-frequency branch recomputes the explode — map-side
    # partial agg + broadcast-back is the skew-safe df design, a
    # per-term window would pile every 'the' posting on one reducer);
    # a per-term explode+groupBy(doc,term) formulation would add more
    assert plan.count("Generate") == 2


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_lm_scoring_join_strategy(spark):
    """LM scoring: the model/unigram lookups stay sort-merge joins
    (merge-hinted — the vocabulary grows with the corpus, broadcasting
    it would OOM the executors at scale) and nothing is cartesian."""
    from fstd2pandas_spark.operators.llm.lm import lm_perplexity, lm_train

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    model, uni, n = lm_train(docs)
    plan = _plan(lm_perplexity(docs, model, uni, n))
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_funnel_single_exchange(spark):
    """The funnel fold is ONE user-key exchange over the events — the
    k-pass min-join cascade formulation would add a join per step."""
    from fstd2pandas_spark.operators.funnel import funnel_steps

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    plan = _plan(funnel_steps(ev, ["view", "click", "purchase"]))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_simhash_report_shares_one_signature_fold(spark):
    """The round-7 regression: lazily branching buckets/pairs off the
    grouped frame let Catalyst push the buckets filter below the
    aggregation, splitting the exchange subtrees — the signature fold
    (the dominant cost at corpus scale) ran TWICE. q_doc_simhash now
    uses the fused simhash_report_rows (one explode chain emits both
    bucket and pair rows), so the plan must contain exactly ONE fold
    subtree: one collect_list aggregation, one parquet scan, and no
    distinct/extra exchange for pair dedup (the minimal-agreeing-block
    predicate replaces it)."""
    import __spark_entry__ as e

    df = e.queries()["doc_simhash"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("collect_list") == 2  # partial + final of ONE agg
    # two scans since round 15: the signature plan's scan plus the
    # degenerate-probe COUNT branch (a pushed-filter doc_id < 0 scan
    # that skips every row group — near-free); the FOLD itself (the
    # md5 token walk) must still appear exactly once
    assert plan.count("Scan parquet") == 2
    assert plan.count("conv(substring(md5") == 1
    # exchanges: repartition (parallelism), the fold's hash exchange,
    # the final orderBy range exchange, plus the probe branch's
    # single-row aggregate exchange — and nothing else (no distinct)
    assert plan.count("Exchange") <= 4
    # the two-frame simhash_report keeps its localCheckpoint sharing;
    # its buckets/pairs must still agree with the fused rows (pinned in
    # tests/test_llm.py) — here we only lock the fused plan shape


def test_zorder_key_known_values(spark):
    """Hand-computed Morton interleave + domain mask + width guard."""
    import pytest as _pytest

    from fstd2pandas_spark.plans.zorder import zorder_key

    df = spark.createDataFrame(
        [(0b1010, 0b0110), (0, 0), (1, 1), ((1 << 20) + 3, 2)],
        ["a", "b"])
    got = [r["z"] for r in
           df.select(zorder_key(["a", "b"], bits=4).alias("z")).collect()]

    def morton(a, b, bits=4):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z
    assert got == [morton(0b1010, 0b0110), 0, morton(1, 1),
                   morton(3, 2)]  # wide value masked to low bits
    with _pytest.raises(ValueError):
        zorder_key(["a", "b", "a", "b"], bits=16)  # 64 > 63
    with _pytest.raises(ValueError):
        zorder_key([])


def test_zorder_repartition_clusters_locality(spark):
    """The layout property data skipping relies on: after z-order
    clustering, each partition's (a, b) ranges are compact — the max
    per-partition bounding-box area is far below the unclustered
    layout's (which spans the whole domain in every partition)."""
    import itertools

    from fstd2pandas_spark.plans.zorder import zorder_repartition

    rows = [(a, b) for a, b in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, ["a", "b"]).repartition(16)

    def max_box_area(frame):
        parts = frame.rdd.glom().collect()
        areas = []
        for p in parts:
            if not p:
                continue
            xs = [r["a"] for r in p]
            ys = [r["b"] for r in p]
            areas.append((max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1))
        return max(areas)

    clustered = zorder_repartition(df, ["a", "b"], num_partitions=16,
                                   bits=6)
    assert max_box_area(clustered) <= 64 * 64 // 4
    assert max_box_area(df) > 64 * 64 // 2       # unclustered baseline
    assert clustered.count() == 64 * 64
    assert "_zorder" not in clustered.columns

@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_pre_fold_window_guard_reuses_aggregation_exchange(spark):
    """The SemDeDup cell-size guard counts members with a whole-
    partition window over the SAME hashpartitioning(cell) the
    collect_list fold needs — the guard must cost zero extra shuffles
    (the fold's aggregate sees its required distribution already
    satisfied). Pins the Spark behavior semantic_dedup's guard relies
    on: window(partitionBy k) -> filter -> groupBy(k) = ONE exchange."""
    from pyspark.sql import Window

    from fstd2pandas_spark.operators.llm.dedup import require_group_within

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        (F.col("vec_id") % 7).alias("cell"), "vec_id", "embedding")
    n = F.count(F.lit(1)).over(Window.partitionBy("cell"))
    guarded = (emb.withColumn("_cn", n)
               .filter(require_group_within(F.col("_cn"), "cell"))
               .drop("_cn"))
    folded = guarded.groupBy("cell").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "embedding")))
        .alias("ms"))
    folded.collect()
    # an executed adaptive dump appends an "== Initial Plan ==" section
    # that would double-count the exchange — grade the final plan only
    plan = _plan(folded).split("== Initial Plan ==")[0]
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "ReusedExchange" not in ln
                and "RoundRobinPartitioning" not in ln]
    assert len(shuffles) == 1, shuffles
    assert "Window" in plan  # the guard count actually rides the plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_window_surface_shares_one_window_node(spark):
    """The widened window_topk surface (row_number + lag + lead +
    first_value + ntile) shares ONE window spec, so Catalyst must
    evaluate all five in a single Window node over a single hash
    exchange — a second Window or a third Exchange means the spec
    drifted and the headline query now pays an extra sort/shuffle."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["window_topk"](spark, SF_DIR))
    assert plan.count("Window") == 1
    # hash exchange for the window + range exchange for the final sort
    assert plan.count("Exchange") == 2


def test_pagerank_iteration_exchange_count_measured(spark):
    """The graph.py module docstring's per-round shuffle claims,
    MEASURED against the production `_next_ranks` plan over
    co-partitioned checkpoints (never asserted from memory):

    - AQE off: exactly ONE shuffle exchange per round (the dst-keyed
      contribution aggregation) — both joins run exchange-free against
      the checkpointed hashpartitioning.
    - AQE on (engine default): EnsureRequirements inside
      AdaptiveSparkPlanExec does not honor LogicalRDD partitioning;
      the round is still BOUNDED at four hash exchanges.

    Broadcast is disabled so tiny test frames plan the same SMJ shape
    the operator has at scale. The checkpoints are built under each
    mode being measured — a checkpoint captures its plan's
    outputPartitioning at CREATION time, and an adaptive plan's is
    unknown, so co-location requires AQE off at build AND use."""
    from fstd2pandas_spark.operators.graph import _next_ranks

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _build():
        e = spark.createDataFrame(
            [(i % 37, (i * 7) % 41) for i in range(500)],
            "src long, dst long").distinct()
        nodes = (e.select(F.col("src").alias("node"))
                 .unionByName(e.select(F.col("dst").alias("node")))
                 .distinct().repartition(nparts, F.col("node"))
                 .localCheckpoint())
        outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
        ed = (e.join(outdeg, "src").repartition(nparts, F.col("src"))
              .localCheckpoint())
        return nodes, ed, nodes.select(
            "node", F.lit(100).cast("long").alias("r"))

    def _shuffles(plan: str) -> list:
        final = plan.split("== Initial Plan ==")[0]
        return [ln for ln in final.splitlines()
                if "Exchange hashpartitioning" in ln
                and "ReusedExchange" not in ln]

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    bc0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        nodes, ed, ranks = _build()
        off = _shuffles(_plan(_next_ranks(nodes, ed, ranks,
                                          3, 85, 100, 0)))
        assert len(off) == 1, off
        assert "dst" in off[0]   # and it IS the dst-keyed contrib agg

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        nodes, ed, ranks = _build()
        nxt = _next_ranks(nodes, ed, ranks, 3, 85, 100, 0)
        nxt.collect()
        on = _shuffles(_plan(nxt))
        assert 1 <= len(on) <= 4, on
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc0)


def test_neardup_round_is_one_exchange_no_join(spark):
    """The cluster.py module docstring's per-round claim, measured on
    the production `_propagate` plan over a checkpointed state with AQE
    on (the engine default): a label-propagation round is exactly ONE
    hash exchange (the node-keyed min) and no join — messages and the
    carried neighbour lists meet in the same groupBy."""
    from fstd2pandas_spark.operators.llm.cluster import (
        _build, _propagate)

    pairs = spark.createDataFrame(
        [(i % 37, (i * 7) % 41) for i in range(500)],
        "doc_a long, doc_b long")
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        state = _build(pairs, "doc_a", "doc_b").localCheckpoint()
        nxt = _propagate(state)
        nxt.collect()
        plan = _plan(nxt)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    shuffles = [ln for ln in final.splitlines()
                if "Exchange" in ln and "ReusedExchange" not in ln]
    assert len(shuffles) == 1, shuffles
    assert "Exchange hashpartitioning(node" in shuffles[0]
    assert "Join" not in final


def test_reservoir_samplers_two_phase_plan_shape(spark):
    """Plan lock for the _salted_topk scaffold: each reservoir sampler
    is exactly TWO hash exchanges (the (stratum, salt) partial window,
    then the stratum final window) — the priority/ticket derivation is
    a shuffle-free narrow map, and the weighted sampler's per-unit
    ticket array adds no exchange and no Python UDF."""
    from fstd2pandas_spark.operators.llm.sampling import (
        stratified_reservoir_sample, weighted_reservoir_sample)

    df = spark.createDataFrame(
        [(i, f"l{i % 3}", i % 4 + 1) for i in range(100)],
        "doc_id long, lang string, w int").withColumn(
        "w", F.col("w").cast("int"))
    for out in (stratified_reservoir_sample(df, 5, strata_col="lang"),
                weighted_reservoir_sample(df, 5, "w",
                                          strata_col="lang")):
        out.collect()
        plan = _plan(out).split("== Initial Plan ==")[0]
        ex = [ln for ln in plan.splitlines()
              if "Exchange hashpartitioning" in ln
              and "ReusedExchange" not in ln]
        assert len(ex) == 2, ex
        wnodes = [ln for ln in plan.splitlines()
                  if ln.lstrip("+- *(0123456789)").startswith("Window [")]
        assert len(wnodes) == 2, wnodes
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_snapshot_diff_equi_join_plan(spark):
    """Scale lock for the null-safe diff: Spark must rewrite the
    eqNullSafe keys into (coalesce, isnull) EQUI-join keys — a
    fallback to BroadcastNestedLoopJoin/CartesianProduct would turn
    the partitions-sized diff into a cartesian at scale. No Python
    eval nodes anywhere in the snapshot path."""
    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    df = spark.createDataFrame(
        [("a", 1, "x"), (None, 2, "y"), ("b", 3, "z")],
        "src string, id long, t string")
    cur = partition_fingerprints(df, ["src"], ["id", "t"])
    prv = partition_fingerprints(df.filter("id <> 3"), ["src"],
                                 ["id", "t"])
    out = changed_partitions(cur, prv, ["src"])
    out.collect()
    plan = _plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_incremental_refresh_prunes_scan(spark, tmp_path):
    """The 100 TB claim of incremental_refresh, verified in the plan:
    with few changed keys the rebuild filter is LITERAL, so the
    hive-partitioned parquet scan of the current corpus carries a
    PartitionFilters entry and reads ONLY the touched directories —
    unchanged data is never read. The fallback (prune_limit=0) swaps
    in a broadcast semi join: still no NestedLoop/Cartesian, no
    Python eval anywhere."""
    from fstd2pandas_spark.plans.incremental import (
        incremental_refresh, partial_aggregates)
    from fstd2pandas_spark.plans.snapshot import (
        changed_partitions, partition_fingerprints)

    rows = [(f"d{i % 5}", i % 3, i) for i in range(60)]
    prv = spark.createDataFrame(rows, "day string, u long, v long")
    cur_rows = [(d, u, v + (100 if d == "d2" else 0))
                for d, u, v in rows if d != "d4"] + [("d9", 1, 7)]
    spark.createDataFrame(cur_rows, "day string, u long, v long") \
        .write.partitionBy("day").parquet(str(tmp_path / "cur"))
    cur = spark.read.parquet(str(tmp_path / "cur"))

    diff = changed_partitions(
        partition_fingerprints(cur, ["day"], ["u", "v"]),
        partition_fingerprints(prv, ["day"], ["u", "v"]), ["day"])
    old_p = partial_aggregates(prv, ["day"], ["u"], ["v"])
    out = incremental_refresh(cur, old_p, diff, ["day"], ["u"], ["v"])
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in
        partial_aggregates(cur, ["day"], ["u"], ["v"]).collect()}

    plan = _plan(out)
    # the rebuild scan must be statically partition-pruned: the scan
    # node carries the literal day values in PartitionFilters
    pf = [ln for ln in plan.splitlines()
          if "PartitionFilters" in ln and "d2" in ln and "d9" in ln]
    assert pf, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan

    out0 = incremental_refresh(cur, old_p, diff, ["day"], ["u"],
                               ["v"], prune_limit=0)
    out0.collect()
    plan0 = _plan(out0)
    assert "NestedLoop" not in plan0 and "Cartesian" not in plan0, plan0
    assert "BatchEvalPython" not in plan0
    assert "ArrowEvalPython" not in plan0


def test_merge_upsert_plan(spark):
    """Scale lock for MERGE: the null-safe key join must rewrite to an
    EQUI join (SortMergeJoin/ShuffledHashJoin — a NestedLoop would be
    a cartesian against the full target at scale), the CDC batch gets
    exactly ONE window (latest-wins + ambiguity count share the key
    partitioning), and no Python eval anywhere."""
    from fstd2pandas_spark.plans.merge import merge_upsert

    tgt = spark.createDataFrame(
        [(i, f"s{i}", i * 10) for i in range(50)] + [(None, "n", 1)],
        "k long, s string, v long")
    src = spark.createDataFrame(
        [(3, "u", 33, 2, False), (3, "old", 31, 1, False),
         (7, None, 0, 1, True), (999, "i", 9, 1, False)],
        "k long, s string, v long, ver long, del boolean")
    out = merge_upsert(tgt, src, ["k"], version_col="ver",
                       delete_col="del")
    out.collect()
    plan = _plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    wnodes = [ln for ln in
              plan.split("== Initial Plan ==")[0].splitlines()
              if ln.lstrip("+- *(0123456789):").startswith("Window [")]
    assert len(wnodes) == 2, wnodes   # rank + ambiguity count, both
    # over the same key partitioning (one batch exchange, no sort
    # between them beyond the rank's own)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_compaction_never_changes_content(spark, tmp_path):
    """plans/compaction.py: fragmented partitions (incl. the hive
    NULL partition) bin-pack to the target size — one file when the
    target swallows the partition, ceil(rows / max_records) files
    under a smaller target, order_by clustering rows within files —
    while the full dataset's order-free fingerprints are bit-identical
    before and after (snapshot.py is compaction's own oracle) and an
    already-compact partition is neither read nor touched (same file,
    same mtime). The rewrite scan is partition-pruned (the literal
    filter lands in PartitionFilters)."""
    from fstd2pandas_spark.plans.compaction import (
        _touch_filter, compact_partitions, compaction_plan)
    from fstd2pandas_spark.plans.snapshot import partition_fingerprints

    path = str(tmp_path / "ds")
    rows = [(d, i, i * 7 % 101) for d in (0, 1) for i in range(120)]
    rows += [(None, i, i * 3 % 17) for i in range(40)]
    df = spark.createDataFrame(rows, "day int, u long, v long")
    # round-robin fragmentation: every task holds rows of every day
    df.repartition(24).write.partitionBy("day").parquet(path)
    # an already-compact partition, appended as a single file
    spark.createDataFrame([(2, i, i) for i in range(30)],
                          "day int, u long, v long") \
        .coalesce(1).write.partitionBy("day").mode("append").parquet(path)

    plan0 = compaction_plan(spark, path, ["day"], 1 << 30)
    by_rel0 = {e["rel"]: e for e in plan0}
    assert by_rel0["day=0"]["n_files"] == 24
    assert by_rel0["day=__HIVE_DEFAULT_PARTITION__"]["values"] == (None,)
    assert by_rel0["day=2"]["n_files"] == 1
    assert by_rel0["day=2"]["needs"] is False
    assert by_rel0["day=0"]["needs"] is True

    def fp():
        return {tuple(r) for r in partition_fingerprints(
            spark.read.parquet(path), ["day"], ["u", "v"]).collect()}

    def day2_file(fs_spark):
        import os as _os
        d2 = _os.path.join(path, "day=2")
        return {(f, _os.path.getmtime(_os.path.join(d2, f)))
                for f in _os.listdir(d2) if not f.startswith(("_", "."))}

    before, d2_before = fp(), day2_file(spark)

    # the rewrite scan is a pure partition predicate -> PartitionFilters
    touched = [e for e in plan0 if e["needs"]]
    probe = spark.read.parquet(path)
    probe_f = probe.filter(
        _touch_filter(["day"], dict(probe.dtypes), touched))
    pplan = probe_f._jdf.queryExecution().executedPlan().toString()
    assert any("PartitionFilters" in ln and "day" in ln
               for ln in pplan.splitlines()), pplan

    # big target: every fragmented partition becomes exactly ONE file
    stats = compact_partitions(spark, path, ["day"], 1 << 30,
                               verify=True)
    assert sorted(stats["compacted"]) == [
        "day=0", "day=1", "day=__HIVE_DEFAULT_PARTITION__"]
    # round-robin fragmentation need not put rows of every day in all
    # 24 tasks, so count the fragmented files the plan listed on disk
    assert stats["files_before"] == sum(e["n_files"] for e in touched)
    assert stats["files_after"] == 3
    plan1 = compaction_plan(spark, path, ["day"], 1 << 30)
    assert all(e["n_files"] == 1 for e in plan1), plan1
    assert fp() == before
    assert day2_file(spark) == d2_before   # untouched, not rewritten

    # re-fragment and compact to a SMALL target with order_by: file
    # count per partition is ceil(rows / max_records) and every
    # file's rows arrive v-sorted (the OPTIMIZE ZORDER idiom)
    spark.read.parquet(path).repartition(24) \
        .write.partitionBy("day").mode("overwrite").parquet(path)
    sum_b = sum(e["bytes"] for e in compaction_plan(
        spark, path, ["day"], 1 << 30))
    target = max(1, (sum_b // 390) * 40)   # ~40 rows per file
    stats2 = compact_partitions(spark, path, ["day"], target,
                                order_by=["v"], verify=True)
    assert fp() == before   # content invariant across both passes
    mr = stats2["max_records"]
    assert mr >= 1
    import math as _math
    plan2 = {e["rel"]: e for e in compaction_plan(
        spark, path, ["day"], 1 << 30)}
    for rel, nrows in [("day=0", 120), ("day=1", 120),
                       ("day=__HIVE_DEFAULT_PARTITION__", 40)]:
        if rel in stats2["compacted"]:
            assert plan2[rel]["n_files"] == _math.ceil(nrows / mr), \
                (rel, mr, plan2[rel])
    # per-file ordering
    got = (spark.read.parquet(path).filter("day = 0")
           .select(F.input_file_name().alias("f"), "v").toPandas())
    for _f, grp in got.groupby("f"):
        assert list(grp["v"]) == sorted(grp["v"]), _f

    # guards
    with pytest.raises(ValueError, match="target_bytes"):
        compaction_plan(spark, path, ["day"], 0)
    with pytest.raises(ValueError, match="max_partitions"):
        compact_partitions(spark, path, ["day"], 1 << 30,
                           max_partitions=1)
    flat = str(tmp_path / "flat")
    spark.range(5).write.parquet(flat)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compaction_plan(spark, flat, ["day"], 1 << 20)


def test_compaction_rewrite_plan_lock(spark, tmp_path):
    """Exchange-count lock for the compaction rewrite (the pagerank/
    merge precedent, AQE off): the module docstring's 'one hash
    exchange on the partition columns' claim, pinned on the REAL code
    path (_rewrite_frame is what compact_partitions writes). The
    pruned scan keeps the literal predicate in PartitionFilters (no
    data-side Filter work), order_by adds a LOCAL Sort only — no
    second exchange — and nothing evaluates Python."""
    from fstd2pandas_spark.plans.compaction import (
        _rewrite_frame, _touch_filter, compaction_plan)

    path = str(tmp_path / "ds")
    rows = [(d, i, (i * 13) % 97) for d in (0, 1, 2) for i in range(80)]
    df = spark.createDataFrame(rows, "day int, u long, v long")
    df.repartition(8).write.partitionBy("day").parquet(path)

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = compaction_plan(spark, path, ["day"], 1 << 30)
        touched = [e for e in plan if e["needs"]]
        assert len(touched) == 3
        base = spark.read.parquet(path)
        pruned = base.filter(
            _touch_filter(["day"], dict(base.dtypes), touched))
        w = _rewrite_frame(pruned, ["day"], order_by=["v"])
        w.collect()
        final = _plan(w).split("== Initial Plan ==")[0]
        ex = [ln for ln in final.splitlines()
              if "Exchange" in ln and "ReusedExchange" not in ln]
        assert len(ex) == 1 and "hashpartitioning(day" in ex[0], ex
        sorts = [ln for ln in final.splitlines() if "Sort [" in ln]
        # "], false," is the plan's spelling of global=false: a LOCAL
        # per-task sort — a global one would need a range exchange
        assert len(sorts) == 1 and "], false," in sorts[0], sorts
        assert any("PartitionFilters" in ln and "day" in ln
                   for ln in final.splitlines()), final
        assert "BatchEvalPython" not in final
        assert "ArrowEvalPython" not in final

        # without order_by: the exchange alone, no Sort node at all
        w2 = _rewrite_frame(pruned, ["day"], order_by=None)
        w2.collect()
        final2 = _plan(w2).split("== Initial Plan ==")[0]
        assert not [ln for ln in final2.splitlines() if "Sort [" in ln]
        ex2 = [ln for ln in final2.splitlines()
               if "Exchange" in ln and "ReusedExchange" not in ln]
        assert len(ex2) == 1, ex2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)


def test_compaction_crash_recovery(spark, tmp_path):
    """recover_compaction repairs every reachable crash window of the
    swap loop, mechanically decidable because the hidden name encodes
    the original leaf: (a) mid-swap — partition dir absent, original
    under .compact-old-<hex>-<leaf> → renamed back, content restored
    bit-for-bit; (b) post-swap cleanup crash — hidden present, target
    exists → superseded copy deleted; (c) crashed rewrite temp dir →
    swept last. compact_partitions refuses to START on debris (the
    single-writer handshake that keeps crash states unambiguous), and
    an undecodable hidden name is refused, never guessed at."""
    import os
    import shutil

    from fstd2pandas_spark.plans.compaction import (
        compact_partitions, recover_compaction)
    from fstd2pandas_spark.plans.snapshot import partition_fingerprints

    path = str(tmp_path / "ds")
    rows = [(d, i, (i * 11) % 89) for d in (0, 1, 2) for i in range(60)]
    spark.createDataFrame(rows, "day int, u long, v long") \
        .repartition(6).write.partitionBy("day").parquet(path)

    def fp():
        return {tuple(r) for r in partition_fingerprints(
            spark.read.parquet(path), ["day"], ["u", "v"]).collect()}

    before = fp()

    # ---- construct one crashed run's worth of debris, os-level
    # (a) mid-swap on day=1: dir renamed to hidden, not yet replaced
    os.rename(os.path.join(path, "day=1"),
              os.path.join(path, ".compact-old-aaaaaaaaaaaa-day=1"))
    # (b) cleanup crash on day=0: swapped in, superseded copy lingers
    shutil.copytree(os.path.join(path, "day=0"),
                    os.path.join(path, ".compact-old-bbbbbbbbbbbb-day=0"))
    # (c) the crashed run's rewrite temp dir (content redundant)
    tmp_dir = f"{path}.compact-deadbeefcafe"
    os.makedirs(os.path.join(tmp_dir, "day=1"))
    with open(os.path.join(tmp_dir, "day=1", "part-junk.parquet"),
              "wb") as f:
        f.write(b"torn rewrite output")

    # a new run must refuse to start on top of debris
    with pytest.raises(RuntimeError, match="recover_compaction first"):
        compact_partitions(spark, path, ["day"], 1 << 30)

    stats = recover_compaction(spark, path, ["day"])
    assert stats == {"restored": ["day=1"], "stale_removed": 1,
                     "tmp_removed": 1, "expired_removed": 0}
    assert fp() == before            # content fully restored
    assert not os.path.exists(tmp_dir)
    assert not [e for e in os.listdir(path) if e.startswith(".compact")]

    # clean dataset: recovery is a no-op and compaction runs again
    assert recover_compaction(spark, path, ["day"]) == {
        "restored": [], "stale_removed": 0, "tmp_removed": 0,
        "expired_removed": 0}
    compact_partitions(spark, path, ["day"], 1 << 30, verify=True)
    assert fp() == before

    # an undecodable hidden dir (the pre-recovery release's format, or
    # another tool colliding with the prefix) is refused, never guessed
    os.makedirs(os.path.join(path, ".compact-old-noleaf"))
    with pytest.raises(ValueError, match="refusing to guess"):
        recover_compaction(spark, path, ["day"])
    os.rmdir(os.path.join(path, ".compact-old-noleaf"))
    # a look-alike WITH a dash must be refused too — without the
    # 12-hex signature check it would decode as hex='my',
    # leaf='backup' and get renamed or deleted (user data destroyed)
    keep = os.path.join(path, ".compact-old-my-backup")
    os.makedirs(keep)
    with open(os.path.join(keep, "precious.txt"), "w") as f:
        f.write("user data")
    with pytest.raises(ValueError, match="refusing to guess"):
        recover_compaction(spark, path, ["day"])
    assert os.path.exists(os.path.join(keep, "precious.txt"))
    shutil.rmtree(keep)

    # a look-alike root sibling is NOT ours: neither pre-flight nor
    # recovery may touch it (the 12-hex format is the signature)
    backup = f"{path}.compact-backup"
    os.makedirs(backup)
    with open(os.path.join(backup, "precious.txt"), "w") as f:
        f.write("user data")
    assert recover_compaction(spark, path, ["day"]) == {
        "restored": [], "stale_removed": 0, "tmp_removed": 0,
        "expired_removed": 0}
    assert os.path.exists(os.path.join(backup, "precious.txt"))
    compact_partitions(spark, path, ["day"], 1 << 30)   # no raise
    assert os.path.exists(os.path.join(backup, "precious.txt"))

    with pytest.raises(ValueError, match="does not exist"):
        recover_compaction(spark, str(tmp_path / "absent"), ["day"])


def test_compaction_refuses_foreign_layouts(spark, tmp_path):
    """Two layouts whose files compaction must never rewrite, refused
    loudly: (a) a BUCKETED table — the `_NNNNN.cNNN` bucket-id file
    names encode the bucket-to-file contract exchange-free joins rely
    on, and a rewrite would silently void it; (b) a Structured
    Streaming parquet-sink output — its readers list files through the
    _spark_metadata LOG, so post-rename they would read deleted
    files."""
    import os
    import shutil

    from fstd2pandas_spark.plans.compaction import (
        compact_partitions, compaction_plan)

    path = str(tmp_path / "ds")
    rows = [(d, i) for d in (0, 1) for i in range(30)]
    spark.createDataFrame(rows, "day int, u long") \
        .repartition(4).write.partitionBy("day").parquet(path)

    # (a) plant a bucket-id-named file (what saveAsTable bucketBy
    # writes) inside one partition, and a LOOK-ALIKE external file
    # (contains _NNNNN.cNNN but is not Spark writer naming) in the
    # other — the anchored regex must flag only the real one, not
    # permanently brick compaction over a stray vendor file
    d0, d1 = os.path.join(path, "day=0"), os.path.join(path, "day=1")
    victim = next(f for f in os.listdir(d0) if f.endswith(".parquet"))
    shutil.move(os.path.join(d0, victim),
                os.path.join(d0, "part-00000-feedbead_00003.c000"
                                 ".snappy.parquet"))
    victim1 = next(f for f in os.listdir(d1) if f.endswith(".parquet"))
    shutil.move(os.path.join(d1, victim1),
                os.path.join(d1, "export_00042.c001.parquet"))
    plan = {e["rel"]: e["bucketed"]
            for e in compaction_plan(spark, path, ["day"], 1 << 30)}
    assert plan == {"day=0": True, "day=1": False}
    with pytest.raises(RuntimeError, match="BUCKETED table layout"):
        compact_partitions(spark, path, ["day"], 1 << 30)

    # (b) a streaming-sink transaction log at the root refuses BOTH
    # entry points — a caller driving its own rewrite off the plan
    # must not get a usable plan either
    path2 = str(tmp_path / "sink")
    spark.createDataFrame(rows, "day int, u long") \
        .write.partitionBy("day").parquet(path2)
    os.makedirs(os.path.join(path2, "_spark_metadata"))
    with pytest.raises(RuntimeError, match="_spark_metadata"):
        compaction_plan(spark, path2, ["day"], 1 << 30)
    with pytest.raises(RuntimeError, match="_spark_metadata"):
        compact_partitions(spark, path2, ["day"], 1 << 30)


def test_compaction_refuses_filesystem_root(spark):
    """A dataset AT a filesystem/bucket root has no parent directory:
    temp-dir siblings (and the rewrite's own <base>.compact-* output)
    cannot exist there. Path.getParent() is null, so without the
    guard the temp-dir sweep would die as an opaque Py4J NPE inside
    listStatus(None)."""
    from fstd2pandas_spark.plans.compaction import _tmp_dirs

    with pytest.raises(ValueError, match="filesystem/bucket root"):
        _tmp_dirs(spark, "file:///")


def test_compaction_object_store_rename_honesty(spark, tmp_path,
                                                monkeypatch):
    """On a flat-namespace object store every rename is a COPY of all
    data + delete: the swap's documented O(1) crash window becomes
    O(partition bytes) and a mid-copy crash leaves PARTIAL hidden
    dirs. Both entry points refuse such schemes unless the caller
    opts in with allow_nonatomic_rename=True (scheme detection is
    seamed through _fs_scheme — a real s3a filesystem cannot be
    registered in a local JVM)."""
    import fstd2pandas_spark.plans.compaction as comp

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(d, i) for d in (0, 1) for i in range(40)], "day int, u long")
    for h in (0, 1):
        df.filter(F.col("u") % 2 == h).write.partitionBy("day") \
          .mode("append").parquet(path)

    monkeypatch.setattr(comp, "_fs_scheme", lambda fs: "s3a")
    with pytest.raises(RuntimeError, match="flat-namespace"):
        comp.compact_partitions(spark, path, ["day"], 1 << 30)
    with pytest.raises(RuntimeError, match="flat-namespace"):
        comp.recover_compaction(spark, path, ["day"])
    # the opt-in knob proceeds (the fs underneath is local, so the
    # swap itself works) and content invariance still holds
    stats = comp.compact_partitions(spark, path, ["day"], 1 << 30,
                                    allow_nonatomic_rename=True,
                                    verify=True)
    assert sorted(stats["compacted"]) == ["day=0", "day=1"]
    assert stats["files_after"] == 2
    # the real local scheme never trips the guard
    monkeypatch.undo()
    rec = comp.recover_compaction(spark, path, ["day"])
    assert rec == {"restored": [], "stale_removed": 0,
                   "tmp_removed": 0, "expired_removed": 0}


def test_maintenance_lease_single_writer(spark, tmp_path):
    """fsutil.maintenance_lease — the single-writer premise, ENFORCED
    (r13 What's-missing #3): atomic create-exclusive lock file, held
    lease refused naming the owner, release in a finally, stale lease
    (age > ttl by fs mtime) broken ONLY under explicit
    break_lease=True, fresh lease never broken even with the flag."""
    import json
    import os
    import time

    from fstd2pandas_spark.fsutil import (LeaseHeldError,
                                          maintenance_lease)

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    lock = os.path.join(root, ".maintenance-lock")

    with maintenance_lease(spark, root, "run-a"):
        assert os.path.exists(lock)
        payload = json.load(open(lock))
        assert payload["owner"] == "run-a" and payload["pid"]
        # a second writer refuses, NAMING the holder
        with pytest.raises(LeaseHeldError, match="locked by run-a"):
            with maintenance_lease(spark, root, "run-b"):
                pass
    assert not os.path.exists(lock)

    # release happens in a finally — a failing body still unlocks
    with pytest.raises(RuntimeError, match="boom"):
        with maintenance_lease(spark, root, "run-a"):
            raise RuntimeError("boom")
    assert not os.path.exists(lock)

    # a hard-killed run's leftover lock: STALE only past ttl
    with open(lock, "w") as f:
        f.write(json.dumps({"owner": "dead-run", "token": "x"}))
    old = time.time() - 7200
    os.utime(lock, (old, old))
    # stale but no opt-in -> refuse, pointing at the knob
    with pytest.raises(LeaseHeldError, match="break_lease"):
        with maintenance_lease(spark, root, "run-b", ttl_sec=3600):
            pass
    # FRESH + break_lease -> still refused (a live writer)
    os.utime(lock, None)
    with pytest.raises(LeaseHeldError, match="FRESH"):
        with maintenance_lease(spark, root, "run-b", ttl_sec=3600,
                               break_lease=True):
            pass
    # stale + break_lease -> taken over (rename-first, so a rival
    # breaker can never delete OUR fresh lock), then released with no
    # .broken-* residue
    os.utime(lock, (old, old))
    with maintenance_lease(spark, root, "run-b", ttl_sec=3600,
                           break_lease=True):
        assert json.load(open(lock))["owner"] == "run-b"
    assert not os.path.exists(lock)
    assert not [e for e in os.listdir(root) if "broken" in e]


def test_maintenance_lease_atomicity_and_heartbeat(spark, tmp_path):
    """The two liveness review findings, pinned: (a) acquisition on
    the local scheme is os.O_EXCL — Hadoop's RawLocalFileSystem
    create(overwrite=false) is a non-atomic exists+open, so 8 threads
    racing one fresh root must produce EXACTLY one holder; (b) a held
    lease heartbeats its mtime, so a LIVE run longer than ttl_sec
    never ages into breakability."""
    import os
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from fstd2pandas_spark.fsutil import (LeaseHeldError,
                                          maintenance_lease)

    root = str(tmp_path / "race")
    os.makedirs(root)
    state = {"winners": 0, "losers": 0}
    mu = threading.Lock()
    start = threading.Barrier(8)
    losers_done = threading.Event()

    def attempt(i):
        start.wait()
        try:
            with maintenance_lease(spark, root, f"t{i}"):
                with mu:
                    state["winners"] += 1
                # hold until every loser has lost: a second "winner"
                # (the non-atomic-create bug) would leave losers at 6
                # and time out here, failing the count below
                losers_done.wait(timeout=15)
        except LeaseHeldError:
            with mu:
                state["losers"] += 1
                if state["losers"] == 7:
                    losers_done.set()

    with ThreadPoolExecutor(8) as ex:
        list(ex.map(attempt, range(8)))
    assert state == {"winners": 1, "losers": 7}

    # heartbeat: mtime advances while held (beat interval is
    # max(1s, ttl/4)); afterwards the lock is gone as usual
    root2 = str(tmp_path / "hb")
    os.makedirs(root2)
    lock2 = os.path.join(root2, ".maintenance-lock")
    with maintenance_lease(spark, root2, "hb", ttl_sec=5.0):
        m0 = os.path.getmtime(lock2)
        time.sleep(2.8)
        m1 = os.path.getmtime(lock2)
    assert m1 > m0
    assert not os.path.exists(lock2)

    # a ttl below the heartbeat-safety floor is refused (a live lease
    # would periodically age into breakability between beats)
    with pytest.raises(ValueError, match="ttl_sec"):
        with maintenance_lease(spark, root2, "hb", ttl_sec=2.0):
            pass


def test_maintenance_lease_flat_namespace_warns(spark, tmp_path,
                                                monkeypatch, caplog):
    """On a flat-namespace object store create-exclusive is a
    best-effort HEAD-then-PUT: the lease still works but is ADVISORY,
    and must SAY so at acquisition instead of promising the
    single-writer guarantee it cannot deliver there."""
    import logging
    import os

    import fstd2pandas_spark.fsutil as fsu

    root = str(tmp_path / "obj")
    os.makedirs(root)
    monkeypatch.setattr(fsu, "fs_scheme", lambda fs: "s3a")
    with caplog.at_level(logging.WARNING,
                         logger="fstd2pandas_spark.fsutil"):
        with fsu.maintenance_lease(spark, root, "sink"):
            pass
        # once per (root, scheme): the CDC sink re-acquires per
        # micro-batch and must not flood a continuous stream's log
        with fsu.maintenance_lease(spark, root, "sink"):
            pass
    assert sum("flat-namespace" in r.getMessage()
               for r in caplog.records) == 1
    assert not os.path.exists(os.path.join(root, ".maintenance-lock"))


def test_maintenance_lease_takeover_identity(spark, tmp_path):
    """The takeover TOCTOU, pinned: rename is by PATH, so a slow
    second breaker could rename the first breaker's freshly
    re-created lock. _break_stale verifies the renamed file IS the
    stale incarnation it judged (token match; mtime staleness for an
    unreadable lock) and renames a fresh rival's lock BACK."""
    import json
    import os
    import time

    import fstd2pandas_spark.fsutil as fsu

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    lock = os.path.join(root, ".maintenance-lock")

    # a FRESH rival lock whose content claims a DIFFERENT token than
    # the stale one the breaker observed: simulate the race by
    # patching _read_lease's first call (the stale judgment) to
    # report a stale, different-token lease while the REAL file is a
    # rival's fresh lock
    with open(lock, "w") as f:
        f.write(json.dumps({"owner": "rival", "token": "rivaltok"}))
    real_read = fsu._read_lease
    calls = {"n": 0}

    def fake_read(spark_, fs_, lock_):
        calls["n"] += 1
        if calls["n"] == 1:
            # the breaker's stale observation (pre-race)
            return {"owner": "dead", "token": "deadtok"}, 10_000.0
        return real_read(spark_, fs_, lock_)

    import pytest as _pt
    try:
        fsu._read_lease = fake_read
        with _pt.raises(fsu.LeaseHeldError, match="takeover race"):
            with fsu.maintenance_lease(spark, root, "b",
                                       ttl_sec=3600.0,
                                       break_lease=True):
                pass
    finally:
        fsu._read_lease = real_read
    # the rival's lock was renamed BACK, not consumed
    assert json.load(open(lock))["token"] == "rivaltok"
    assert not [e for e in os.listdir(root) if "broken" in e]

    # ...and a genuinely stale UNREADABLE lock is still breakable:
    # identity falls back to the renamed file's own mtime staleness
    with open(lock, "w") as f:
        f.write("torn{")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with fsu.maintenance_lease(spark, root, "b", ttl_sec=3600.0,
                               break_lease=True):
        assert json.load(open(lock))["owner"] == "b"
    assert not os.path.exists(lock)


def test_compaction_and_recovery_hold_the_lease(spark, tmp_path):
    """compact_partitions and recover_compaction REFUSE to run while
    another maintenance run's lease is held on the dataset (the
    documented single-writer handshake, now enforced), clean up their
    own lease on success, and a typo'd path stays loud (the lock
    file's parent-dir creation must not fabricate an empty dataset)."""
    import os

    from fstd2pandas_spark.fsutil import (LeaseHeldError,
                                          maintenance_lease)
    from fstd2pandas_spark.plans.compaction import (
        compact_partitions, recover_compaction)

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(d, i) for d in (0, 1) for i in range(40)], "day int, u long")
    for h in (0, 1):
        df.filter(F.col("u") % 2 == h).write.partitionBy("day") \
          .mode("append").parquet(path)

    with maintenance_lease(spark, path, "other-run"):
        with pytest.raises(LeaseHeldError, match="locked by other-run"):
            compact_partitions(spark, path, ["day"], 1 << 30)
        with pytest.raises(LeaseHeldError, match="locked by other-run"):
            recover_compaction(spark, path, ["day"])

    # after release both run, and neither leaves its lease behind
    stats = compact_partitions(spark, path, ["day"], 1 << 30,
                               verify=True)
    assert sorted(stats["compacted"]) == ["day=0", "day=1"]
    assert not os.path.exists(os.path.join(path, ".maintenance-lock"))
    recover_compaction(spark, path, ["day"])
    assert not os.path.exists(os.path.join(path, ".maintenance-lock"))

    with pytest.raises(ValueError, match="does not exist"):
        compact_partitions(spark, str(tmp_path / "nope"), ["day"],
                           1 << 30)
    assert not os.path.exists(str(tmp_path / "nope"))


def test_recover_compaction_crash_point_sweep(spark, tmp_path):
    """The exhaustiveness claim behind recover_compaction, made
    EMPIRICAL (r13 order #3): instead of three hand-pinned crash
    states, a wrapped filesystem kills the swap before its k-th
    MUTATING op (rename/delete) for EVERY k up to the clean run's op
    count. After each simulated crash, recovery must restore a
    dataset whose partition fingerprints are IDENTICAL to the
    original, leave zero debris (proved by a full compact_partitions
    running clean afterwards), and that compaction must again be
    content-invariant."""
    import shutil

    from fstd2pandas_spark.plans.compaction import (
        _compact_locked, compact_partitions, recover_compaction)
    from fstd2pandas_spark.plans.snapshot import partition_fingerprints

    class SimCrash(Exception):
        pass

    class CrashFS:
        """Proxies a JVM FileSystem; raises BEFORE the k-th mutating
        op — the crash windows are the GAPS between mutations."""

        def __init__(self, real, kill_before):
            self._real, self._kill = real, kill_before
            self.ops = 0

        def _tick(self):
            if self._kill is not None and self.ops >= self._kill:
                raise SimCrash(f"simulated crash before op {self.ops}")
            self.ops += 1

        def rename(self, a, b):
            self._tick()
            return self._real.rename(a, b)

        def delete(self, p, r=True):
            self._tick()
            return self._real.delete(p, r)

        def __getattr__(self, name):
            return getattr(self._real, name)

    from fstd2pandas_spark.fsutil import hadoop_fs

    path = str(tmp_path / "ds")
    rows = [(d, i, f"s{i}") for d in (0, 1) for i in range(30)]

    def build():
        shutil.rmtree(path, ignore_errors=True)
        df = spark.createDataFrame(rows, "day int, u long, s string")
        for h in (0, 1):
            df.filter(F.col("u") % 2 == h).write.partitionBy("day") \
              .mode("append").parquet(path)

    def fps():
        return {tuple(r) for r in partition_fingerprints(
            spark.read.parquet(path), ["day"],
            ["u", "s"]).collect()}

    build()
    expected = fps()

    # clean pass with a counting (never-killing) wrapper: n mutating
    # ops = the number of crash windows to sweep
    fs, _root = hadoop_fs(spark, path)
    counter = CrashFS(fs, None)
    _compact_locked(spark, path, ["day"], 1 << 30, None, 100, False,
                    counter)
    n_ops = counter.ops
    # 2 partitions x (old->hidden, new->old, delete hidden) + the
    # finally's temp delete
    assert n_ops == 7, n_ops

    for k in range(n_ops):
        build()
        with pytest.raises(SimCrash):
            _compact_locked(spark, path, ["day"], 1 << 30, None, 100,
                            False, CrashFS(fs, k))
        recover_compaction(spark, path, ["day"])
        assert fps() == expected, f"content drift after crash at {k}"
        # zero debris left: a full (lease-taking, debris-checking)
        # compaction runs clean and is itself content-invariant
        compact_partitions(spark, path, ["day"], 1 << 30, verify=True)
        assert fps() == expected, f"post-recompact drift at {k}"

    # second sweep: Hadoop rename/delete signal failure by RETURNING
    # False (quota, permissions, concurrent mutation) — a different
    # failure mode from a crash, exercising the swap's restore branch
    # and the warn-and-continue delete paths. (1, 2) is the
    # restore-also-failed state: rename(new->old) fails AND the
    # rename-back fails, leaving the partition only under its hidden
    # name — the message points at recover_compaction, which must
    # restore it.
    class FalseFS:
        def __init__(self, real, false_at):
            self._real, self._false = real, set(false_at)
            self.ops = 0

        def _hit(self):
            k = self.ops
            self.ops += 1
            return k in self._false

        def rename(self, a, b):
            if self._hit():
                return False
            return self._real.rename(a, b)

        def delete(self, p, r=True):
            if self._hit():
                return False
            return self._real.delete(p, r)

        def __getattr__(self, name):
            return getattr(self._real, name)

    for case in [(k,) for k in range(n_ops)] + [(1, 2)]:
        build()
        try:
            _compact_locked(spark, path, ["day"], 1 << 30, None, 100,
                            False, FalseFS(fs, case))
        except IOError:
            pass  # failed-rename paths raise; failed deletes warn
        recover_compaction(spark, path, ["day"])
        assert fps() == expected, f"content drift, False at {case}"
        compact_partitions(spark, path, ["day"], 1 << 30, verify=True)
        assert fps() == expected, f"post-recompact drift at {case}"


def test_expire_partitions(spark, tmp_path, monkeypatch):
    """expire_partitions — retention/TTL expiry as a pure
    metadata-plane op: matching partitions (incl. the hive NULL one)
    disappear atomically via the rename-then-delete protocol, kept
    partitions are byte-identical, NO data is read, and stats count
    exactly the removed files/bytes. Crash debris (`.compact-exp-*`)
    blocks new runs, is always DELETED by recovery (never restored —
    the rename was the commit), and look-alike names without the
    12-hex signature are refused. The operator shares compaction's
    lease and flat-namespace contracts."""
    import os

    import fstd2pandas_spark.plans.compaction as comp
    from fstd2pandas_spark.fsutil import (LeaseHeldError,
                                          maintenance_lease)
    from fstd2pandas_spark.plans.snapshot import partition_fingerprints

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(d, i, f"s{i}") for d in (0, 1, 2, None) for i in range(20)],
        "day int, u long, s string")
    df.coalesce(2).write.partitionBy("day").parquet(path)

    def fps():
        return {tuple(r) for r in partition_fingerprints(
            spark.read.parquet(path), ["day"], ["u", "s"]).collect()}

    kept_before = {t for t in fps() if t[0] in (0, None)}

    # values arrive as decoded STRINGS (None for the NULL partition).
    # The metadata-plane claim is PINNED: zero Spark jobs run during
    # the expiry (plan walk + renames only — no scan, no shuffle)
    sc = spark.sparkContext
    sc.setJobGroup("expire-pin", "expire must run no jobs")
    try:
        stats = comp.expire_partitions(
            spark, path, ["day"], lambda v: v["day"] in ("1", "2"))
    finally:
        sc.setJobGroup(None, None)
    import time as _time
    _time.sleep(0.5)   # listener-bus drain
    assert list(sc.statusTracker().getJobIdsForGroup("expire-pin")) \
        == []
    assert sorted(stats["expired"]) == ["day=1", "day=2"]
    assert stats["files_removed"] >= 2 and stats["bytes_removed"] > 0
    assert fps() == kept_before
    assert not [e for e in os.listdir(path)
                if e.startswith(".compact")]

    # the hive NULL partition is addressable as None
    stats2 = comp.expire_partitions(
        spark, path, ["day"], lambda v: v["day"] is None)
    assert stats2["expired"] == ["day=__HIVE_DEFAULT_PARTITION__"]
    assert fps() == {t for t in kept_before if t[0] == 0}

    # nothing matches -> clean no-op
    assert comp.expire_partitions(
        spark, path, ["day"], lambda v: False) == {
        "expired": [], "files_removed": 0, "bytes_removed": 0}

    # crash window: a .compact-exp-* dir (rename done, delete not) is
    # debris — both maintenance entry points refuse, recovery DELETES
    # it (resurrecting expired data is never correct), and the table
    # is untouched
    exp_debris = os.path.join(path, ".compact-exp-abcdef123456-day=9")
    os.makedirs(exp_debris)
    with open(os.path.join(exp_debris, "f.parquet"), "w") as f:
        f.write("condemned")
    with pytest.raises(RuntimeError, match="crash debris"):
        comp.expire_partitions(spark, path, ["day"], lambda v: False)
    with pytest.raises(RuntimeError, match="crash debris"):
        comp.compact_partitions(spark, path, ["day"], 1 << 30)
    rec = comp.recover_compaction(spark, path, ["day"])
    assert rec == {"restored": [], "stale_removed": 0,
                   "tmp_removed": 0, "expired_removed": 1}
    assert not os.path.exists(exp_debris)
    assert fps() == {t for t in kept_before if t[0] == 0}

    # look-alike without the 12-hex signature: refuse to guess
    look = os.path.join(path, ".compact-exp-my-backup")
    os.makedirs(look)
    with pytest.raises(ValueError, match="refusing to guess"):
        comp.recover_compaction(spark, path, ["day"])
    os.rmdir(look)

    # lease + flat-namespace contracts match compaction's
    with maintenance_lease(spark, path, "rival"):
        with pytest.raises(LeaseHeldError, match="locked by rival"):
            comp.expire_partitions(spark, path, ["day"],
                                   lambda v: False)
    monkeypatch.setattr(comp, "_fs_scheme", lambda fs: "gs")
    with pytest.raises(RuntimeError, match="flat-namespace"):
        comp.expire_partitions(spark, path, ["day"], lambda v: False)
    monkeypatch.undo()

    # multilevel layout: expire one leaf, the sibling stays
    path2 = str(tmp_path / "ml")
    spark.createDataFrame(
        [(1, 2, 10), (1, 3, 20), (2, 2, 30)], "a int, b int, v long")\
        .coalesce(1).write.partitionBy("a", "b").parquet(path2)
    st = comp.expire_partitions(
        spark, path2, ["a", "b"],
        lambda v: v["a"] == "1" and v["b"] == "3")
    assert st["expired"] == ["a=1/b=3"]
    assert {tuple(r) for r in
            spark.read.parquet(path2).select("v", "a", "b")
            .collect()} == {(10, 1, 2), (30, 2, 2)}


def test_delete_checked_warns_on_false(caplog):
    """fs.delete signals failure by RETURNING False — ignored, the
    leftover debris costs the operator a confused round-trip on the
    next run. delete_checked warns naming the path, but stays silent
    for the benign already-absent False."""
    import logging

    from fstd2pandas_spark.fsutil import delete_checked

    class FS:
        def __init__(self, deleted, exists):
            self._d, self._e = deleted, exists

        def delete(self, p, r):
            return self._d

        def exists(self, p):
            return self._e

    with caplog.at_level(logging.WARNING,
                         logger="fstd2pandas_spark.fsutil"):
        assert delete_checked(FS(True, False), "p1")
        assert delete_checked(FS(False, False), "p2")
        assert not caplog.records
        assert not delete_checked(FS(False, True), "p3",
                                  what="hidden dir")
    assert any("hidden dir" in r.getMessage() for r in caplog.records)


def test_compaction_canonical_name_safety(spark, tmp_path):
    """The silent-data-loss class the pre-swap checks exist for:
    directory names that do not round-trip the writer's canonical
    string form. `x=3` on a DOUBLE column is rewritten as `x=3.0`, so
    a blind swap would treat the missing tmp/x=3 as 'zero rows' and
    delete the original. The structural check aborts BEFORE any
    rename (dataset byte-identical, temp removed), and two
    directories decoding to ONE canonical partition abort even
    earlier. A genuinely zero-row partition still compacts (its empty
    files are removed — verified against real per-partition counts,
    not directory absence)."""
    import os
    import shutil

    from fstd2pandas_spark.plans.compaction import compact_partitions
    from fstd2pandas_spark.plans.snapshot import partition_fingerprints

    path = str(tmp_path / "ds")
    rows = [(x, i, i * 3 % 17) for x in (3.5, 4.5) for i in range(40)]
    spark.createDataFrame(rows, "x double, u long, v long") \
        .repartition(4).write.partitionBy("x").parquet(path)
    # a non-canonical spelling of x=3.0, holding REAL rows (copied
    # files re-read under the dir's own partition value)
    d_bad = os.path.join(path, "x=3")
    os.makedirs(d_bad)
    src_dir = os.path.join(path, "x=3.5")
    for i, f in enumerate(sorted(os.listdir(src_dir))):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src_dir, f),
                        os.path.join(d_bad, f"copy{i}.parquet"))
    assert len(os.listdir(d_bad)) >= 2   # fragmented -> touched

    def fp():
        return {tuple(r) for r in partition_fingerprints(
            spark.read.parquet(path), ["x"], ["u", "v"]).collect()}

    before = fp()
    with pytest.raises(RuntimeError, match="round-trip"):
        compact_partitions(spark, path, ["x"], 1 << 30)
    assert fp() == before                      # nothing was modified
    assert not [e for e in os.listdir(str(tmp_path))
                if e.startswith("ds.compact-")]   # temp removed

    # two spellings of ONE canonical partition abort before the write
    d30 = os.path.join(path, "x=3.0")
    os.makedirs(d30)
    shutil.copy(os.path.join(src_dir, sorted(
        f for f in os.listdir(src_dir) if f.endswith(".parquet"))[0]),
        os.path.join(d30, "a.parquet"))
    shutil.copy(os.path.join(src_dir, sorted(
        f for f in os.listdir(src_dir) if f.endswith(".parquet"))[0]),
        os.path.join(d30, "b.parquet"))
    before_c = fp()
    with pytest.raises(RuntimeError, match="SAME canonical"):
        compact_partitions(spark, path, ["x"], 1 << 30)
    assert fp() == before_c            # abort happened pre-write
    shutil.rmtree(d_bad)
    shutil.rmtree(d30)

    # canonical layout compacts fine, and a genuinely ZERO-ROW
    # fragmented partition is compacted by removing its empty files
    empty = os.path.join(path, "x=9.0")
    os.makedirs(empty)
    e1 = spark.createDataFrame([], "u long, v long")
    e1.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "estage"))
    import glob as _glob
    for i in range(2):
        shutil.copy(_glob.glob(str(tmp_path / "estage" / "part-*"))[0],
                    os.path.join(empty, f"e{i}.parquet"))
    before2 = fp()
    stats = compact_partitions(spark, path, ["x"], 1 << 30,
                               verify=True)
    assert "x=9.0" in stats["compacted"]
    assert fp() == before2
    assert not os.path.exists(empty)   # empty files removed entirely


def test_compaction_converges_under_row_width_skew(spark, tmp_path):
    """max_records derives from per-partition counts so that EVERY
    partition lands within its own n_ideal: with one global
    bytes-per-row average, a small-row partition next to a wide-row
    one is over-split, re-flagged by the next plan, and re-rewritten
    on every run forever. Done = one compaction, then the next plan
    shows needs=False everywhere."""
    from fstd2pandas_spark.plans.compaction import (
        compact_partitions, compaction_plan)

    path = str(tmp_path / "ds")
    wide = [(0, i, "x" * 2000) for i in range(300)]
    narrow = [(1, i, "y") for i in range(300)]
    spark.createDataFrame(wide + narrow, "g int, u long, s string") \
        .repartition(8).write.partitionBy("g").parquet(path)
    plan0 = compaction_plan(spark, path, ["g"], 1 << 30)
    target = max(e["bytes"] for e in plan0) // 3   # ~3 files for wide
    stats = compact_partitions(spark, path, ["g"], target)
    assert stats["files_before"] > stats["files_after"]
    plan1 = compaction_plan(spark, path, ["g"], target)
    assert all(not e["needs"] for e in plan1), plan1
    # idempotence: a second run touches nothing
    stats2 = compact_partitions(spark, path, ["g"], target)
    assert stats2["compacted"] == []


def test_compaction_and_recovery_multilevel(spark, tmp_path):
    """Two-level hive partitioning end-to-end: compaction swaps leaf
    dirs under their intermediate parents (hidden siblings live at
    level 1, not the root), and recovery reports the FULL partition
    rel (a=1/b=2 — bare leaves are ambiguous across parents, the
    review-pass contract fix)."""
    import os
    import shutil

    from fstd2pandas_spark.plans.compaction import (
        compact_partitions, compaction_plan, recover_compaction)
    from fstd2pandas_spark.plans.snapshot import partition_fingerprints

    path = str(tmp_path / "ds")
    rows = [(a, b, i, (i * 3 + a + b) % 31)
            for a in (0, 1) for b in (2, 3) for i in range(40)]
    spark.createDataFrame(rows, "a int, b int, u long, v long") \
        .repartition(6).write.partitionBy("a", "b").parquet(path)

    def fp():
        return {tuple(r) for r in partition_fingerprints(
            spark.read.parquet(path), ["a", "b"], ["u", "v"]).collect()}

    before = fp()
    stats = compact_partitions(spark, path, ["a", "b"], 1 << 30,
                               verify=True)
    assert sorted(stats["compacted"]) == [
        "a=0/b=2", "a=0/b=3", "a=1/b=2", "a=1/b=3"]
    assert stats["files_after"] == 4
    assert fp() == before
    plan = compaction_plan(spark, path, ["a", "b"], 1 << 30)
    assert all(e["n_files"] == 1 for e in plan)

    # crash states at BOTH leaf parents, same leaf name b=2 in each —
    # recovery must disambiguate via the parent rel
    os.rename(os.path.join(path, "a=1", "b=2"),
              os.path.join(path, "a=1", ".compact-old-cccccccccccc-b=2"))
    shutil.copytree(
        os.path.join(path, "a=0", "b=2"),
        os.path.join(path, "a=0", ".compact-old-dddddddddddd-b=2"))
    with pytest.raises(RuntimeError, match="recover_compaction first"):
        compact_partitions(spark, path, ["a", "b"], 1 << 30)
    rstats = recover_compaction(spark, path, ["a", "b"])
    assert rstats == {"restored": ["a=1/b=2"], "stale_removed": 1,
                      "tmp_removed": 0, "expired_removed": 0}
    assert fp() == before


def test_merge_upsert_bucketed_target_exchange_free(spark, tmp_path):
    """The module docstring's bucketed-MERGE claim, pinned (r11 order
    item #3): the DEFAULT null-safe join extracts to ``(coalesce(k,
    default), isnull(k))`` join keys — an expression no bucket layout
    on bare ``k`` satisfies, so even a bucketed target re-shuffles
    (4 exchanges, coalesce-wrapped keys). With ``keys_not_null=True``
    the join keys are the bare columns and the bucketed target joins
    with ZERO target-side exchanges — only the CDC side shuffles into
    the bucket layout (2 exchanges total: batch dedup + the key
    window reused by the join). AQE off, broadcast off — the
    pagerank-lock precedent. NULL-key guards raise on either side."""
    from fstd2pandas_spark.plans.bucketing import (
        read_bucketed, write_bucketed)
    from fstd2pandas_spark.plans.merge import merge_upsert

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    bc0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    tgt = spark.range(200).selectExpr(
        "id as k", "cast(id as string) as s", "id * 10 as v")
    src = spark.createDataFrame(
        [(3, "u", 33, 2, False), (999, "i", 9, 1, False)],
        "k long, s string, v long, ver long, del boolean")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # bucket count must MATCH spark.sql.shuffle.partitions for
        # EnsureRequirements to serve the join from the bucket layout
        # instead of re-shuffling both sides to the session default —
        # at 100 TB this is the same sizing rule the module docstring
        # gives (bucket count ~ cluster parallelism)
        nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
        write_bucketed(tgt, "t_mrg_b", ["k"], nb,
                       path=str(tmp_path / "t"))
        t = read_bucketed(spark, "t_mrg_b")

        def _exchanges(df):
            df.collect()
            final = _plan(df).split("== Initial Plan ==")[0]
            return [ln for ln in final.splitlines()
                    if "Exchange hashpartitioning" in ln
                    and "ReusedExchange" not in ln]

        # default null-safe: the bucket layout cannot serve the
        # coalesce/isnull join keys — the TARGET side re-shuffles
        ex_ns = _exchanges(merge_upsert(t, src, ["k"],
                                        version_col="ver",
                                        delete_col="del"))
        assert len(ex_ns) == 4, ex_ns
        assert any("coalesce(" in ln for ln in ex_ns), ex_ns

        # keys_not_null: bare-key join, zero target-side exchanges
        out = merge_upsert(t, src, ["k"], version_col="ver",
                           delete_col="del", keys_not_null=True)
        ex_nn = _exchanges(out)
        assert len(ex_nn) == 2, ex_nn
        assert not any("coalesce(" in ln for ln in ex_nn), ex_nn
        final = _plan(out).split("== Initial Plan ==")[0]
        smj = [ln for ln in final.splitlines() if "SortMergeJoin" in ln]
        assert smj and "coalesce" not in smj[0], smj

        # and the fast path returns exactly the null-safe result on
        # NULL-free keys
        ref = {tuple(r) for r in merge_upsert(
            t, src, ["k"], version_col="ver",
            delete_col="del").collect()}
        assert {tuple(r) for r in out.collect()} == ref

        # NULL-key guards: either side raises in-plan
        srcn = spark.createDataFrame(
            [(None, "u", 33, 2, False)],
            "k long, s string, v long, ver long, del boolean")
        with pytest.raises(Exception, match="NULL key in the source"):
            merge_upsert(t, srcn, ["k"], version_col="ver",
                         delete_col="del", keys_not_null=True).collect()
        tgtn = tgt.unionByName(spark.createDataFrame(
            [(None, "n", 0)], "k long, s string, v long"))
        with pytest.raises(Exception, match="NULL key in the target"):
            merge_upsert(tgtn, src, ["k"], version_col="ver",
                         delete_col="del", keys_not_null=True).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc0)
        spark.sql("DROP TABLE IF EXISTS t_mrg_b")


def test_change_feed_plan(spark):
    """Scale lock for the change feed: ONE full-outer SortMergeJoin on
    the null-safe key extraction, the entire classification (insert/
    delete/update pair/silent) fused into a single Generate(explode)
    over engine-native struct compares, and exactly TWO Window nodes —
    the per-side key-uniqueness guards (a duplicate key would fan out
    through the join into a silently wrong feed) — no NestedLoop/
    Cartesian, no Python eval, no second join."""
    from fstd2pandas_spark.plans.merge import change_feed

    old = spark.range(200).selectExpr(
        "id as k", "cast(id as string) s", "id * 2 v")
    new = spark.range(100, 300).selectExpr(
        "id as k", "cast(id as string) s", "id * 3 v")
    f = change_feed(old, new, ["k"])
    f.collect()
    final = _plan(f).split("== Initial Plan ==")[0]
    smj = [ln for ln in final.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1 and "FullOuter" in smj[0], smj
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "BatchEvalPython" not in final
    assert "ArrowEvalPython" not in final
    gens = [ln for ln in final.splitlines() if "Generate explode" in ln]
    assert len(gens) == 1, gens
    wins = [ln for ln in final.splitlines()
            if ln.lstrip("+- *(0123456789):").startswith("Window [")]
    assert len(wins) == 2, wins   # the two uniqueness guards


def test_scd2_apply_plan(spark):
    """Scale lock for SCD2: the null-safe current-slice join rewrites
    to an EQUI join (no NestedLoop/Cartesian), exactly THREE Window
    nodes (two shared-partitioning batch-resolution windows + the
    current-slice open-count corruption guard), and no Python eval;
    the closed-history branch is a plain filtered scan feeding the
    union — it never reaches the join."""
    from fstd2pandas_spark.plans.merge import scd2_apply

    hist = spark.createDataFrame(
        [(i, f"s{i}", 0, None if i % 3 else -1) for i in range(40)],
        "k long, s string, valid_from long, valid_to long")
    batch = spark.createDataFrame(
        [(1, "u", 5, False), (1, "u0", 4, False), (99, "i", 5, False)],
        "k long, s string, ver long, del boolean")
    out = scd2_apply(hist, batch, ["k"], "ver", delete_col="del")
    out.collect()
    plan = _plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    wnodes = [ln for ln in
              plan.split("== Initial Plan ==")[0].splitlines()
              if ln.lstrip("+- *(0123456789):").startswith("Window [")]
    assert len(wnodes) == 3, wnodes
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_histogram_sketch_single_exchange_plan(spark):
    """Plan lock: the histogram sketch is ONE hash exchange (the
    group-key aggregation, map-side combined — HashAggregate appears
    below AND above the exchange) and no Python eval; the quantile
    cascade adds no exchange at all."""
    from fstd2pandas_spark.operators.sketch import (
        histogram_quantile, histogram_sketch)

    df = spark.createDataFrame(
        [(f"u{i % 7}", float(i % 50)) for i in range(300)],
        "g string, x double")
    out = histogram_quantile(
        histogram_sketch(df, "x", 0.0, 40.0, 8, ["g"]),
        0.5, 0.0, 40.0, 8)
    out.collect()
    plan = _plan(out).split("== Initial Plan ==")[0]
    ex = [ln for ln in plan.splitlines()
          if "Exchange hashpartitioning" in ln
          and "ReusedExchange" not in ln]
    assert len(ex) == 1, ex
    aggs = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert len(aggs) >= 2, aggs   # partial + final = map-side combine
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dedup_fold_single_evaluation_lock(spark):
    """No-re-evaluation lock across the dedup family (the d0d052e
    class, regression-proofed): a guard/filter added on an
    expression-bearing column gets predicate-pushed through the
    projection, substituting the alias so the whole signature fold
    re-evaluates inside the filter and again per downstream reference
    — measured at 20x on doc_minhash_lsh before the fix. This pins the
    md5 base-hash fold (marker ``conv(substring(md5`` — the shared
    spelling of minhash's and simhash's base hash, absent everywhere
    else in these plans) to exactly ONE occurrence in each OPTIMIZED
    logical plan; any future filter that re-duplicates the subtree
    fails here, not in the bench. simhash_report's two frames read the
    eager localCheckpoint, so their plans must contain the fold ZERO
    times (stronger: the fold ran once, at checkpoint time). AQE off
    per the lock idiom (the optimized logical plan is pre-AQE, but the
    toggle keeps the collect()-free assertions hermetic)."""
    import re

    from fstd2pandas_spark.operators.llm.dedup import (
        lsh_candidate_pairs, signature_hamming_pairs,
        simhash_hamming_pairs, simhash_report, simhash_report_rows)

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i % 3} y z a b c d e f") for i in range(20)],
        "doc_id long, text string")

    def opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    FOLD = "conv(substring(md5"

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        p = opt(lsh_candidate_pairs(docs))
        assert p.count(FOLD) == 1, p
        # the affine variants all read the ONE _mh base-hash array:
        # the first coefficient appears once, not once per reference
        assert p.count("769236919") == 1, p

        p = opt(simhash_hamming_pairs(docs, bits=48, max_hamming=2))
        assert p.count(FOLD) == 1, p

        p = opt(simhash_report_rows(docs, bits=48, max_hamming=2))
        assert p.count(FOLD) == 1, p

        buckets, prs = simhash_report(docs, bits=48, max_hamming=2)
        assert opt(buckets).count(FOLD) == 0, opt(buckets)
        assert opt(prs).count(FOLD) == 0, opt(prs)

        # caller-COMPUTED signature column: the NULL exclusion must
        # ride the grouping-key filter (pushed below the Aggregate to
        # just above the block Generate — so NULL rows never enter the
        # collect_list buffers), NOT a source-side isNotNull that
        # re-evaluates the caller's expression (fold would count 2)
        sig = docs.withColumn(
            "psig",
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
            .cast("long"))
        p = opt(signature_hamming_pairs(sig, "psig",
                                        bits=32, max_hamming=1))
        assert p.count(FOLD) == 1, p
        m = re.search(r"Filter isnotnull\(b#\d+\.value\)", p)
        assert m is not None, p
        assert m.start() > p.index("Aggregate [block"), p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)


def test_maintenance_lease_release_identity_race(spark, tmp_path,
                                                 caplog):
    """The release-side TOCTOU, closed rename-first (the takeover's
    own discipline mirrored): if the heartbeat fails long enough for
    the lease to go stale and a breaker takes over between release's
    read and its delete, the old read-verify-delete removed the
    BREAKER's fresh lock. Release now renames the lock to a
    release-unique name BEFORE inspecting it — a rival's lock that
    loses its path this way is put back and survives."""
    import json
    import logging
    import os

    import fstd2pandas_spark.fsutil as fsu

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    lock = os.path.join(root, ".maintenance-lock")

    with caplog.at_level(logging.WARNING,
                         logger="fstd2pandas_spark.fsutil"):
        with fsu.maintenance_lease(spark, root, "run-a",
                                   ttl_sec=3600.0):
            # simulate a post-heartbeat-outage breaker takeover
            # mid-run: our lock is gone, a rival's FRESH lock is at
            # the path
            with open(lock, "w") as f:
                f.write(json.dumps({"owner": "rival",
                                    "token": "rivaltok"}))
    # the breaker's lock SURVIVES release, at its own path
    assert json.load(open(lock))["token"] == "rivaltok"
    assert not [e for e in os.listdir(root) if "release" in e]
    assert any("REPLACED mid-run" in r.getMessage()
               for r in caplog.records)

    # an UNREADABLE lock at release time: also restored, not deleted
    # (it might be a rival's)
    os.remove(lock)
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="fstd2pandas_spark.fsutil"):
        with fsu.maintenance_lease(spark, root, "run-a",
                                   ttl_sec=3600.0):
            with open(lock, "w") as f:
                f.write("torn{")
    assert open(lock).read() == "torn{"
    assert not [e for e in os.listdir(root) if "release" in e]
    assert any("could not be READ" in r.getMessage()
               for r in caplog.records)
    os.remove(lock)


def test_maintenance_lease_heartbeat_escalation(spark, tmp_path,
                                                caplog):
    """Sustained heartbeat failure must get LOUD while it matters
    (r14 What's-wrong #2): once no beat has landed for ttl_sec the
    lock's mtime age exceeds the ttl — a breaker could legitimately
    take the lease — so the yielded handle flips to expired, check()
    raises LeaseExpiredError into the critical section, and the log
    escalates to ERROR. setTimes is made to fail by removing the lock
    file (FileNotFound on every beat)."""
    import logging
    import os
    import time

    import fstd2pandas_spark.fsutil as fsu

    root = str(tmp_path / "hb")
    os.makedirs(root)
    lock = os.path.join(root, ".maintenance-lock")

    with caplog.at_level(logging.WARNING,
                         logger="fstd2pandas_spark.fsutil"):
        with fsu.maintenance_lease(spark, root, "hb",
                                   ttl_sec=5.0) as lease:
            assert isinstance(lease, fsu.LeaseHandle)
            assert not lease.expired()
            lease.check()  # healthy: no-op
            os.remove(lock)  # every subsequent beat now fails
            deadline = time.time() + 15
            while not lease.expired() and time.time() < deadline:
                time.sleep(0.25)
            assert lease.expired()
            with pytest.raises(fsu.LeaseExpiredError,
                               match="aged into breakability"):
                lease.check()
    errors = [r for r in caplog.records
              if r.levelno >= logging.ERROR]
    assert any("aged into breakability" in r.getMessage()
               for r in errors)
    # the escalation fires ONCE, not once per subsequent failed beat
    assert sum("HAS aged into" in r.getMessage() for r in errors) == 1
    # release after the outage: the lock cannot be claimed -> the
    # operator is told to check for interleaving, at ERROR level
    assert any("could not be claimed at release" in r.getMessage()
               for r in errors)

    # the compaction swap loop checks the handle BETWEEN partitions:
    # an expired lease aborts before the first rename, leaving the
    # dataset byte-identical and no debris
    from fstd2pandas_spark.fsutil import hadoop_fs
    from fstd2pandas_spark.plans.compaction import _compact_locked

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(d, i) for d in (0, 1) for i in range(40)], "day int, u long")
    df.repartition(4).write.partitionBy("day").parquet(path)
    before = sorted(
        r["day"] * 1000 + r["u"]
        for r in spark.read.parquet(path).collect())

    class _ExpiredLease:
        def check(self):
            raise fsu.LeaseExpiredError("test: lease expired")

    fs, _ = hadoop_fs(spark, path)
    with pytest.raises(fsu.LeaseExpiredError):
        _compact_locked(spark, path, ["day"], 1 << 30,
                        order_by=None, max_partitions=64,
                        verify=False, fs=fs, lease=_ExpiredLease())
    after = sorted(
        r["day"] * 1000 + r["u"]
        for r in spark.read.parquet(path).collect())
    assert after == before
    assert not [e for e in os.listdir(str(tmp_path))
                if ".compact-" in e]


def test_maintenance_lease_contention_classification(spark, tmp_path,
                                                     monkeypatch):
    """Held-lease detection on the FileSystem.create path must match
    the CONTENTION failure only (ADVICE r14): the Java exception
    class when available, else the 'already exists' wording ONLY when
    the message names the lock path itself — 'parent path ... already
    exists as a file' is a real filesystem problem and must surface,
    not read as a phantom concurrent run."""
    import os

    import fstd2pandas_spark.fsutil as fsu

    root = str(tmp_path / "tbl")
    os.makedirs(root)

    class _FakeFS:
        def __init__(self, msg_fmt):
            self.msg_fmt = msg_fmt

        def create(self, p, overwrite):
            raise RuntimeError(self.msg_fmt.format(p=p))

        def getFileStatus(self, p):
            raise IOError("no status")

    def fake_hadoop_fs(msg_fmt):
        def _f(spark_, path_):
            return _FakeFS(msg_fmt), fsu.jpath(spark_, path_)
        return _f

    monkeypatch.setattr(fsu, "fs_scheme", lambda fs: "hdfs")

    # contention wording naming the LOCK path -> LeaseHeldError
    monkeypatch.setattr(fsu, "hadoop_fs",
                        fake_hadoop_fs("{p} already exists"))
    with pytest.raises(fsu.LeaseHeldError):
        with fsu.maintenance_lease(spark, root, "a"):
            pass

    # 'already exists' about ANOTHER path (parent-is-a-file, a 409
    # about the bucket) -> the real error surfaces
    monkeypatch.setattr(
        fsu, "hadoop_fs",
        fake_hadoop_fs("parent path /tbl already exists as a file"))
    with pytest.raises(RuntimeError, match="parent path"):
        with fsu.maintenance_lease(spark, root, "a"):
            pass

    # the REAL Py4J branch: scheme patched to non-local so the code
    # takes FileSystem.create against the actual local Hadoop FS —
    # contention on an existing lock arrives as a Py4JJavaError whose
    # java_exception class is org.apache.hadoop.fs.
    # FileAlreadyExistsException (probed), and the class walk must
    # classify it as a held lease naming the holder
    import json
    import os as _os
    import time as _time

    monkeypatch.undo()
    monkeypatch.setattr(fsu, "fs_scheme", lambda fs: "hdfs")
    lock = _os.path.join(root, ".maintenance-lock")
    with open(lock, "w") as f:
        f.write(json.dumps({"owner": "holder-x", "token": "t"}))
    _os.utime(lock, None)
    with pytest.raises(fsu.LeaseHeldError, match="locked by holder-x"):
        with fsu.maintenance_lease(spark, root, "b", ttl_sec=3600):
            pass
    _os.remove(lock)


def test_salted_join_refuses_outer_on_replicated_side(spark):
    """salting.py review pin: a right/full outer salted join emits the
    replicated side's UNMATCHED rows once per salt — n_salts silent
    duplicates; refused loudly. Left/inner stay correct (multiplicity
    pinned against the unsalted join)."""
    from fstd2pandas_spark.plans.salting import salted_join

    big = spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")],
                                "k long, v string")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, d string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="once per salt"):
            salted_join(big, dim, ["k"], 4, how=how)
    for how in ("inner", "left"):
        got = sorted((r["k"], r["v"], r["d"]) for r in
                     salted_join(big, dim, ["k"], 4, how=how).collect())
        exp = sorted((r["k"], r["v"], r["d"]) for r in
                     big.join(dim, ["k"], how).collect())
        assert got == exp, how


def test_expire_partitions_aborts_on_expired_lease(spark, tmp_path,
                                                   monkeypatch):
    """The lease-expiry boundary abort, pinned on expire_partitions
    too (the compaction swap loop's twin): once the handle reports the
    lease aged into breakability, the delete loop must stop BETWEEN
    partitions with everything not yet expired intact. Staged by
    patching maintenance_lease to yield a handle that expires after
    the first check."""
    import os

    import fstd2pandas_spark.plans.compaction as comp
    from fstd2pandas_spark.fsutil import LeaseExpiredError

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(d, i) for d in (0, 1, 2) for i in range(10)],
        "day int, u long")
    df.coalesce(1).write.partitionBy("day").parquet(path)

    class _FlakyLease:
        def __init__(self):
            self.checks = 0

        def check(self):
            self.checks += 1
            if self.checks > 1:
                raise LeaseExpiredError("test: lease expired")

    import contextlib

    handle = _FlakyLease()

    @contextlib.contextmanager
    def fake_lease(*a, **k):
        yield handle

    monkeypatch.setattr(comp, "maintenance_lease", fake_lease)
    with pytest.raises(LeaseExpiredError):
        comp.expire_partitions(spark, path, ["day"],
                               lambda v: v["day"] in ("0", "1", "2"))
    # exactly ONE partition expired (the pre-check ran before each);
    # the rest are intact and the dataset readable — the recoverable
    # boundary state, not a half-deleted partition
    days = sorted(r["day"] for r in
                  spark.read.parquet(path).select("day")
                  .distinct().collect())
    assert len(days) == 2, days
    assert handle.checks == 2
