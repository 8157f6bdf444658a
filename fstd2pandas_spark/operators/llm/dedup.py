"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, C4 line dedup, boilerplate span stats, and Lee-et-al exact
duplicated-substring spans.

Scale design:
- exact dedup is a hash-groupBy (one shuffle on the content hash);
- MinHash signatures are computed shuffle-free per document
  (higher-order aggregates over the shingle array); LSH candidate
  pairs come from ONE (band, bucket) aggregation whose sorted member
  arrays stream their i<j pairs through chained Generates — no
  self-join (see :func:`lsh_candidate_pairs`);
- SimHash buckets and Hamming-radius pairs share one pigeonhole-block
  aggregation the same way (:func:`simhash_report`);
- n-gram Jaccard uses an inverted-index self-join on shingles with
  pair aggregation and a document-frequency hot-shingle cap;
- duplicated-substring detection is a corpus-wide window-hash count
  with a merge-hinted semi-join back (output == occurrences — a viral
  hash cannot pair-explode; :func:`duplicate_spans`).

All hashes are md5-derived (see llm/__init__ determinism contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.operators.llm.text import (
    _simhash_sql, tokens_col, shingles_col, simhash, sql_ident,
)
from fstd2pandas_spark.plans.partitioning import ensure_min_partitions


#: ceiling on members per collision group (LSH bucket, signature
#: pigeonhole block, SemDeDup cell) — the range_join
#: MAX_BINS_PER_INTERVAL precedent applied to the collect_list group
#: paths: one degenerate hot group (mistuned bands/r, a cosine-
#: degenerate corpus of constant embeddings) must raise LOUDLY instead
#: of building a giant single-row member array and streaming B^2/2
#: pairs through one task. 10k members already means ~5e7 candidate
#: pairs from ONE group; raise the module constant deliberately if a
#: corpus genuinely needs more.
MAX_GROUP_MEMBERS = 10_000


#: shared ceiling-message halves: the DSL guard (require_group_within)
#: and the fused-SQL guard (_group_ceiling_sql) build the SAME message
#: from these, so the two plan-construction paths cannot drift
_CEILING_MSG_PRE = "{what} has "
_CEILING_MSG_POST = (
    " members, above MAX_GROUP_MEMBERS={cap} — a hot "
    "collision group this size means the banding/cell knobs "
    "are mistuned for this corpus (or it needs exact-dedup "
    "first); raise fstd2pandas_spark.operators.llm.dedup."
    "MAX_GROUP_MEMBERS deliberately if the B^2/2 pair "
    "fan-out is intended")


def require_group_within(cnt: Column, what: str,
                         cap: "int | None" = None) -> Column:
    """Boolean guard column for a group-size ceiling: True below the
    cap, in-plan ``raise_error`` above it — silent truncation would
    under-report duplicates, the one thing a dedup must not do. Use as
    a ``.filter(...)`` predicate right where the group size first
    becomes known (after the fold for narrow id arrays; BEFORE the fold
    via a window count when members carry whole vectors)."""
    cap = MAX_GROUP_MEMBERS if cap is None else cap
    msg = F.concat(
        F.lit(_CEILING_MSG_PRE.format(what=what)), cnt.cast("string"),
        F.lit(_CEILING_MSG_POST.format(cap=cap)))
    return F.when(cnt <= F.lit(int(cap)), F.lit(True)) \
            .otherwise(F.raise_error(msg).cast("boolean"))


def _group_ceiling_sql(cnt_sql: str, what: str,
                       cap: "int | None" = None) -> str:
    """SQL-text twin of :func:`require_group_within` for fused
    single-``spark.sql`` plan builds — same predicate tree, same
    message (shared templates above)."""
    cap = MAX_GROUP_MEMBERS if cap is None else cap
    pre = _CEILING_MSG_PRE.format(what=what).replace("'", "\\'")
    post = _CEILING_MSG_POST.format(cap=cap).replace("'", "\\'")
    return (f"CASE WHEN {cnt_sql} <= {int(cap)} THEN true "
            f"ELSE CAST(raise_error(concat('{pre}', "
            f"CAST({cnt_sql} AS STRING), '{post}')) AS BOOLEAN) END")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact content hash (md5)."""
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


#: affine minhash family h_i(x) = (a_i*x + b_i) mod P over a 32-bit md5
#: base hash — ONE md5 per shingle, the variants are integer arithmetic
#: (a*x <= 1e9 * 4.3e9 < 2^63: no overflow in either engine)
MINHASH_P = 1_000_000_007
MINHASH_AS = [769236919, 392333197, 152342387, 982451653,
              741721967, 297764993, 613651349, 858599509,
              104395303, 472882027, 533000401, 715225741]
MINHASH_BS = [324011567, 832040011, 514229033, 196418123,
              75025661, 28657333, 10946117, 4181099,
              1597031, 610099, 233239, 89017]


def base_hash_col(s: Column) -> Column:
    """32-bit base hash: first 8 md5 hex digits as integer."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _minhash_sig_sql(num_hashes: int) -> str:
    """The MinHash signature over the shingle base-hash array ``_mh`` as
    SQL text — the one definition behind :func:`minhash_signature`
    (through ``F.expr``) and the fused :func:`lsh_candidate_pairs`
    statement, range check included: ``num_hashes`` = 0 would give
    every document the identical empty signature (and silently return
    the empty pair set), > ``len(MINHASH_AS)`` a bare IndexError.

    The per-hash variants are one flat transform + array_min each: far
    fewer allocations than a fold rebuilding a num_hashes-wide
    accumulator per shingle; ONE SQL string because the Column DSL
    would cost hundreds of py4j round-trips to build."""
    if not 1 <= num_hashes <= len(MINHASH_AS):
        raise ValueError(
            f"num_hashes must be in 1..{len(MINHASH_AS)} (the affine "
            f"coefficient family width), got {num_hashes} — 0 would "
            "give every document the identical empty signature")
    terms = ", ".join(
        "coalesce(array_min(transform(_mh, "
        f"h -> (cast({MINHASH_AS[i]} as bigint) * h + {MINHASH_BS[i]}) "
        f"% {MINHASH_P})), cast({MINHASH_P} as bigint))"
        for i in range(num_hashes))
    return f"array({terms})"


def minhash_signature(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 12, shingle_k: int = 3) -> DataFrame:
    """Add ``sig``: array of `num_hashes` minhash values over word
    shingles (P as sentinel for empty shingle sets).

    The sentinel is exact and detectable: real minimum hashes live in
    [0, P), so a signature slot equal to P means — and only means —
    the document's shingle set was empty (fewer than ``shingle_k``
    tokens, or NULL text). Downstream consumers must NOT treat two
    all-sentinel signatures as similar; :func:`lsh_candidate_pairs`
    excludes such documents from pairing entirely (see its docstring
    for the exact-dedup fallback to chain for short documents).

    Single ``aggregate`` fold over the shingle-hash array: the md5 base
    hash is the fold *input*, so it is computed exactly once per shingle
    regardless of signature width — the variants are integer arithmetic.
    Shuffle-free per-document computation."""
    sig = _minhash_sig_sql(num_hashes)
    # Projection boundaries matter doubly here (CollapseProject keeps
    # expensive multi-referenced aliases, and HOF lambdas have no
    # loop-invariant hoisting): tokens materialize first — an inline
    # split() would re-split the text once PER SHINGLE inside the
    # transform — then the base-hash array (md5 once per shingle).
    df = ensure_min_partitions(df)
    with_t = df.withColumn("_tk", tokens_col(F.col(text_col)))
    sh = shingles_col(F.col("_tk"), shingle_k)
    with_h = with_t.withColumn(
        "_mh", F.transform(sh, base_hash_col)).drop("_tk")
    return with_h.withColumn("sig", F.expr(sig)).drop("_mh")


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 12,
                        bands: int = 4, shingle_k: int = 3) -> DataFrame:
    """MinHash-LSH candidate pairs: documents sharing at least one band
    bucket. Returns (doc_a, doc_b, n_bands) with doc_a < doc_b.

    DEGENERATE documents never pair: a document with fewer than
    ``shingle_k`` tokens, or NULL text, has an empty shingle set and
    therefore NO MinHash signature to compare — it is excluded from
    banding entirely and appears in no candidate pair, even against an
    exact-identical twin. That is deliberate: all empty shingle sets
    share the one all-sentinel signature, so including them would pair
    every degenerate document with every other at maximum confidence
    (n_bands = bands) and a destructive dedup keyed on those candidates
    would mass-delete unrelated short documents. For exact-duplicate
    coverage of short/NULL documents, chain :func:`exact_dedup` (or
    its normalized/multi-key variants) alongside LSH — the streaming
    sibling ``streaming_signature_dedup`` applies the same fallback
    (content hash) automatically.

    rows-per-band r = num_hashes / bands (must divide evenly — a ragged
    banding would silently drop the remainder hashes and weaken the
    similarity threshold the (bands, r) pair encodes); band hash = md5
    of the joined signature slice.

    Pair generation is a single-scan bucket aggregation, not a
    self-join: group by (band, bucket) collecting the sorted member-id
    array, then stream the i<j pairs out of each array with two chained
    Generates (posexplode of ids, then explode of the strictly-later
    slice). One exchange computes the signatures ONCE — the old
    self-join needed a shared repartition + ReusedExchange plus two
    sort-merge sorts to get the same guarantee. The nested Generate is
    pipelined inside whole-stage codegen, so resident memory is O(max
    bucket size) — a degenerate hot bucket streams its B^2/2 pairs
    instead of materializing them in one row (and either way the
    downstream n_bands aggregation sees the same B^2/2 rows; a bucket
    that big means `bands`/`r` are mistuned, not that the plan broke).
    """
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of bands "
            f"({bands}); a ragged banding drops remainder hashes")
    sig = _minhash_sig_sql(num_hashes)
    r = num_hashes // bands
    # DEGENERATE documents (empty shingle set: fewer than shingle_k
    # tokens, or NULL text) all share the all-sentinel signature, so
    # unguarded they pair with EACH OTHER at maximum confidence
    # (n_bands = bands) — a destructive dedup keyed on these
    # candidates mass-deletes unrelated short documents, and >sqrt(cap)
    # of them trips the group ceiling on every run. The sentinel is
    # detectable exactly (real minimum hashes live in [0, P); only an
    # empty set coalesces to P itself — the streaming sibling's rule),
    # and its BAND BUCKET is one driver-computable constant per r, so
    # the exclusion is a cheap string filter AFTER banding: a filter
    # on the sig column itself would be predicate-pushed INTO the
    # signature fold and re-evaluate the md5 fold per reference
    # (measured: ~20x on the benched gate).
    import hashlib as _hashlib

    sentinel_bucket = _hashlib.md5(
        "|".join([str(MINHASH_P)] * r).encode()).hexdigest()
    # r18: ONE spark.sql statement for the whole pipeline. The former
    # Column-DSL chain re-ran eager analysis per transformation (~13
    # steps over a fold-bearing plan) and cost ~300 ms of driver time
    # per build (measured); the fused CTE form is a single parse + one
    # analysis pass. Each CTE mirrors one DSL step — same expressions,
    # same filter placement (sentinel filter AFTER banding, never on
    # the sig column; ceiling then size>1 above the fold) — so the
    # optimized plan is unchanged: signatures computed once, one
    # (band, bucket) exchange, two chained Generates streaming i<j
    # pairs, map-side-combined final n_bands aggregation (plan-locked
    # in tests/test_plans.py; value equivalence vs the unfused
    # minhash_signature building blocks pinned in tests/test_llm.py).
    k = int(shingle_k)
    shingles = (
        f"CASE WHEN nullif(size(_tk), -1) < {k} "
        "THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, nullif(size(_tk), -1) - {k}), "
        f"j -> array_join(slice(_tk, j + 1, {k}), ' ')) END")
    src = ensure_min_partitions(df)
    return df.sparkSession.sql(f"""
      WITH _t AS (
        SELECT {sql_ident(id_col)} AS _id,
               split(lower({sql_ident(text_col)}), ' ') AS _tk
        FROM {{src}}
      ),
      _h AS (
        SELECT _id, transform({shingles},
                 s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)) AS _mh
        FROM _t
      ),
      _sig AS (SELECT _id, {sig} AS sig FROM _h),
      _b0 AS (
        SELECT _id, explode(transform(sequence(0, {int(bands) - 1}),
                 b -> named_struct('band', b, 'bucket',
                   md5(array_join(transform(slice(sig, b * {r} + 1, {r}),
                                            x -> CAST(x AS STRING)), '|'))))) AS bb
        FROM _sig
      ),
      _banded AS (
        SELECT _id, bb.band AS band, bb.bucket AS bucket FROM _b0
        WHERE bb.bucket != '{sentinel_bucket}'
      ),
      _g0 AS (
        SELECT band, bucket, sort_array(collect_list(_id)) AS ids
        FROM _banded GROUP BY band, bucket
      ),
      _grouped AS (
        SELECT * FROM _g0
        WHERE {_group_ceiling_sql('size(ids)', 'LSH bucket')}
          AND size(ids) > 1
      ),
      _outer AS (
        SELECT ids, _i, doc_a FROM _grouped
        LATERAL VIEW posexplode(ids) AS _i, doc_a
      ),
      _pairs AS (
        SELECT doc_a, doc_b FROM (
          SELECT doc_a,
                 explode(slice(ids, _i + 2, size(ids) - _i - 1)) AS doc_b
          FROM _outer)
        WHERE doc_a < doc_b
      )
      SELECT doc_a, doc_b, count(*) AS n_bands
      FROM _pairs GROUP BY doc_a, doc_b
    """, src=src)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: "int | None" = None) -> DataFrame:
    """Near-duplicate pairs by word-shingle Jaccard >= threshold, via an
    inverted-index self-join (explode distinct shingles, equi-join on the
    shingle, count shared, |A|+|B|-shared as union).

    ``max_doc_freq`` is the 100 TB skew guard: a shingle present in d
    documents emits d^2 join rows on ONE reducer, so one stopword
    shingle ("one of the") can hold a whole stage hostage. Shingles
    above the document-frequency cap are dropped from the inverted
    index before the self-join — standard in MinHash/inverted-index
    dedup pipelines. Document sizes stay uncapped, so capped Jaccard is
    a LOWER bound of the exact value (pairs only supported by
    ultra-common shingles fall out; near-identical pairs keep enough
    rare shingles to survive). ``None`` = exact.

    Returns (doc_a, doc_b, jaccard) rounded to 6 dp, doc_a < doc_b.
    """
    # tokens behind a projection boundary: inline split() would re-split
    # the text once per shingle inside the transform lambda
    sh = (
        df.withColumn("_tk", tokens_col(F.col(text_col)))
        .select(F.col(id_col), F.explode(
            F.array_distinct(shingles_col(F.col("_tk"), shingle_k))
        ).alias("shingle"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    idx = sh
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq).select("shingle")
        )
        # left_anti keeps the index free of the hot keys; the small hot
        # list broadcasts (it is bounded by |vocab above the cap|)
        idx = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # one shuffle on the shingle shared by both self-join sides
    # (ReusedExchange); MERGE hints throughout — the posting list and
    # the per-doc size table are both corpus-sized at scale, so a
    # stats-driven broadcast of either is a driver-OOM plan
    idx = idx.repartition("shingle")
    a = idx.select(F.col("shingle"), F.col(id_col).alias("doc_a"))
    b = idx.select(F.col("shingle"), F.col(id_col).alias("doc_b"))
    shared = (
        a.hint("merge").join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (
        shared.hint("merge").join(na, "doc_a")
        .hint("merge").join(nb, "doc_b")
        .withColumn(
            "_j", F.col("shared") / (F.col("na") + F.col("nb")
                                     - F.col("shared")))
        # threshold the EXACT ratio; rounding first would admit pairs
        # whose true jaccard sits within 5e-7 below the threshold
        .filter(F.col("_j") >= threshold)
        .select("doc_a", "doc_b",
                F.round(F.col("_j"), 6).alias("jaccard"))
    )


def simhash_buckets(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Documents grouped by SimHash value — each multi-doc bucket is a
    near-duplicate candidate set. Returns (simhash, n_docs, min_doc).

    NULL-text documents form no bucket and appear in no candidate set
    (simhash of unknown content is unknown — grouping such documents
    together would mark unrelated ones as near-duplicates); dedup them
    exactly via :func:`exact_dedup` if NULL==NULL is intended."""
    with_sh = simhash(df, text_col, bits)
    # simhash(NULL text) is NULL: unrelated unknown-content docs must
    # not collapse into one NULL-key "near-duplicate" bucket (the
    # signature_hamming_pairs rule). Filtered on the GROUPING KEY
    # after the aggregation — a filter on the simhash column itself
    # would be predicate-pushed into the signature expression and
    # re-evaluate it per reference.
    return (with_sh.groupBy("simhash").agg(
        F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc"))
        .filter(F.col("simhash").isNotNull()))


def normalized_text_col(text: Column) -> Column:
    """Dedup normalization: lowercase, punctuation/symbols -> space,
    whitespace collapsed, trimmed — so reformatting (case, punctuation,
    spacing) does not defeat exact dedup. Unicode-aware: keeps letters
    and digits of EVERY script (``\\p{L}\\p{N}``), so Chinese/Cyrillic/
    Arabic documents normalize to their own content rather than
    collapsing to the empty string."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}\s]", " "),
        r"\s+", " "))


def normalized_exact_dedup(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup over NORMALIZED content (see normalized_text_col):
    keep the lowest-id doc per normalized md5. Documents whose
    normalized form is EMPTY (emoji-only, punctuation-only) are excluded
    — unrelated degenerate documents must never collapse into one
    "duplicate" group and be mass-deleted."""
    n = normalized_text_col(F.col(text_col))
    return (
        df.withColumn("content_hash", F.md5(n)).where(F.length(n) > 0)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def multi_exact_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Raw + normalized exact-dedup ledgers in ONE scan: both hashes are
    computed in a single projection and unpivoted to (kind,
    content_hash) rows before one hash-groupBy — at corpus scale this
    halves the input I/O vs running the two dedups separately and
    unioning. Output: (content_hash, doc_id, n_copies, kind)."""
    n = normalized_text_col(F.col(text_col))
    pairs = df.select(
        F.col(id_col),
        F.explode(F.filter(
            F.array(
                F.struct(F.lit("raw").alias("kind"),
                         F.md5(F.col(text_col)).alias("content_hash")),
                F.struct(F.lit("norm").alias("kind"),
                         F.when(F.length(n) > 0, F.md5(n))
                         .alias("content_hash")),
            ),
            # keep the raw struct even when the hash is NULL (NULL-text
            # docs form a NULL-hash group, matching exact_dedup and the
            # oracle's GROUP BY md5(text)); only the norm ledger excludes
            # empty/NULL-normalized docs by design
            lambda s: s["content_hash"].isNotNull()
            | (s["kind"] == "raw"))).alias("kc"),
    )
    return (
        pairs.groupBy(F.col("kc.kind").alias("kind"),
                      F.col("kc.content_hash").alias("content_hash"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .select("content_hash", id_col, "n_copies", "kind")
    )


def dedup_lines(df: DataFrame, text_col: str = "text",
                out_col: str = "line_deduped",
                sep: str = "\n") -> DataFrame:
    """C4-style within-document line dedup: drop every line that already
    occurred earlier in the SAME document, keeping first occurrences in
    order (Raffel et al. 2020 §2.2 removes repeated boilerplate lines).

    Pure array expression — ``filter`` with the element index probing
    the line-array prefix — so it stays a shuffle-free narrow map.
    Quadratic in the per-document LINE count (not characters), which is
    the right trade at corpus scale: no explode, no shuffle, no state.
    """
    import re

    # F.split takes a REGEX but array_join emits sep literally — escape
    # so metacharacter separators ('.', '|') split/round-trip as typed
    lines = F.split(F.col(text_col), re.escape(sep))
    kept = F.filter(
        lines,
        lambda x, i: ~F.exists(F.slice(lines, 1, i), lambda p: p == x),
    )
    return df.withColumn(out_col, F.array_join(kept, sep))


def boilerplate_span_stats(df: DataFrame, k: int = 3, min_df: int = 2,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           max_doc_freq: "int | None" = None) -> DataFrame:
    """Corpus-level boilerplate detection: a token ``k``-gram is
    boilerplate when it appears in >= ``min_df`` distinct documents;
    each document gains ``n_spans`` (its distinct k-grams),
    ``n_boilerplate_spans`` (how many of those are corpus-common) and
    ``boilerplate_frac`` — the signal C4/RefinedWeb-style pipelines
    threshold on to drop template pages.

    Scale shape: one explode of per-doc DISTINCT spans (so the span
    count per doc bounds the blow-up), document frequency via
    ``groupBy(_span).count()`` (map-side partial aggregation — a viral
    span compresses to one row per map task BEFORE the shuffle), then a
    per-span equi-join back onto the occurrences and one groupBy to the
    doc.  The df table is NOT broadcast: at min_df=2 the boilerplate
    set grows linearly with the corpus (total-occurrences/min_df), so a
    broadcast semi-join — the obvious alternative — is a driver-OOM
    plan at the scale this module targets.  The join replaces the
    earlier window-over-``_span`` formulation: a window must buffer a
    hot span's every occurrence in ONE reducer, while the sort-merge
    join streams the probe side and AQE can split a skewed partition.

    ``max_doc_freq``: optional hot-key guard.  Spans seen in more than
    ``max_doc_freq`` documents bypass the sort-merge path entirely via
    a broadcast join — that set is small BY CONSTRUCTION (at most
    total-occurrences / max_doc_freq spans), so the viral keys never
    enter a shuffled join at all.  Counts are unchanged: an ultra-hot
    span is still boilerplate (df >= min_df); only its execution route
    differs.
    """
    spans_arr = F.array_distinct(shingles_col(tokens_col(F.col(text_col)), k))
    spans = (
        df.select(F.col(id_col), spans_arr.alias("_spans"))
        .select(F.col(id_col), F.explode("_spans").alias("_span"))
    )
    span_df = spans.groupBy("_span").agg(F.count("*").alias("_df"))
    # merge hint on every span-keyed join: the df table is an aggregate
    # whose pre-AQE size estimate can look broadcastable while the real
    # set grows with the corpus (same rationale as the LSH join hints)
    if max_doc_freq is None:
        hits = (
            spans.hint("merge")
            .join(span_df.filter(F.col("_df") >= min_df)
                  .select("_span"), "_span")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_boilerplate_spans"))
        )
    else:
        if max_doc_freq < min_df:
            raise ValueError("max_doc_freq must be >= min_df")
        warm = span_df.filter((F.col("_df") >= min_df)
                              & (F.col("_df") <= max_doc_freq)).select("_span")
        hot = span_df.filter(F.col("_df") > max_doc_freq).select("_span")
        hits = (
            spans.hint("merge").join(warm, "_span")
            .groupBy(id_col).agg(F.count("*").alias("_n"))
            .unionByName(
                spans.join(F.broadcast(hot), "_span")
                .groupBy(id_col).agg(F.count("*").alias("_n")))
            .groupBy(id_col)
            .agg(F.sum("_n").alias("n_boilerplate_spans"))
        )
    # NULL text means UNKNOWN content: all three metrics stay NULL
    # (the duplicate_spans/repetition_metrics contract) — coalescing
    # the count to 0 made an unknown-content doc read as perfectly
    # clean (boilerplate_frac 0.0), exactly what a C4-style threshold
    # must not keep silently
    has_text = F.col(text_col).isNotNull()
    return (
        df.withColumn("n_spans",
                      F.when(has_text, F.size(spans_arr)).cast("long"))
        .join(hits, id_col, "left")
        .withColumn("n_boilerplate_spans",
                    F.when(has_text,
                           F.coalesce(F.col("n_boilerplate_spans"),
                                      F.lit(0))).cast("long"))
        .withColumn("boilerplate_frac", F.when(has_text, F.round(
            F.col("n_boilerplate_spans") /
            F.greatest(F.col("n_spans"), F.lit(1)), 6)))
    )


def simhash_hamming_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", bits: int = 48,
                          max_hamming: int = 2) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius (Manku et al.
    2007, public): exact-signature buckets (:func:`simhash_buckets`)
    only catch IDENTICAL signatures; real near-dups differ in a few
    bits.  Pigeonhole: split the ``bits`` into ``max_hamming + 1``
    blocks — any pair within distance ``max_hamming`` agrees exactly on
    at least one block — so candidates come from per-block equi-joins,
    then an exact ``bit_count(xor)`` filter keeps true pairs.

    Scale shape mirrors :func:`lsh_candidate_pairs`: ONE shuffle
    grouping by (block, value) into a sorted (id, simhash) member
    array, then two chained Generates stream the i<j candidate pairs
    out of each array (pipelined in whole-stage codegen — resident
    memory is O(max block-collision group), never O(group^2)), and the
    number of candidate rows is bounded by block-collision counts.
    That bound is only real when blocks are WIDE: the default is 48-bit
    signatures (16-bit blocks at radius 2 — Manku et al. run 64-bit),
    because narrow blocks (e.g. 16-bit sigs -> 5-bit blocks, 32 values)
    collapse the block keyspace and degenerate toward all-pairs on a
    large corpus.  Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    grouped, layout = _simhash_blocks_grouped(
        df, text_col, id_col, bits, max_hamming)
    return _pairs_from_grouped(grouped, max_hamming, layout)


def _simhash_blocks_grouped(df: DataFrame, text_col: str, id_col: str,
                            bits: int, max_hamming: int):
    """Shared pigeonhole machinery: ONE signature pass + ONE shuffle
    grouping (block, value) into the sorted (id, simhash) member array.
    Returns (grouped_df, layout) — see :func:`_block_layout`;
    callers filter/derive from them.

    NULL-text rows are excluded HERE, on the source column, before the
    signature projection is even attached — the cheapest point (the
    predicate pushes to the scan) and it spares the per-token md5 fold
    for rows whose signature would be NULL anyway. simhash(non-NULL
    text) is never NULL (split of a non-null string is non-null), so
    past this filter the pipeline carries no NULL signatures at all."""
    sh = simhash(df.filter(F.col(text_col).isNotNull()),
                 text_col, bits).select(id_col, "simhash")
    return _signature_blocks_grouped(sh, id_col, bits, max_hamming)


def signature_hamming_pairs(df: DataFrame, sig_col: str,
                            id_col: str = "doc_id", bits: int = 64,
                            max_hamming: int = 2) -> DataFrame:
    """Hamming-radius pairs over ANY integer bit-signature column —
    the :func:`simhash_hamming_pairs` pigeonhole join generalized to
    precomputed signatures (perceptual image dHashes, audio
    fingerprints, projection sign vectors). Same scale shape: one
    (block, value) shuffle, chained-Generate i<j pair streaming, exact
    ``bit_count(xor)`` filter. Returns (doc_a, doc_b, hamming).

    NULL signatures (e.g. ``image_dhash``'s undecodable payloads) are
    excluded — they carry no content to compare, and keying them
    together would pair unrelated unknown-content items. The exclusion
    rides the shared helper's grouping-key filter rather than a
    ``df.filter(sig.isNotNull())`` here: when the caller's ``sig_col``
    is a COMPUTED column (a dhash expression, a projection hash), a
    source-side filter is predicate-pushed through the caller's
    projection and re-evaluates the expression inside the filter — the
    d0d052e re-evaluation class; the helper's filter lands above the
    block Generate where the signature is already a plain attribute
    (plan-locked in tests/test_plans.py)."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(sig_col).cast("long").alias("simhash"))
    grouped, layout = _signature_blocks_grouped(
        sh, "doc_id", bits, max_hamming)
    return _pairs_from_grouped(grouped, max_hamming, layout)


def _block_layout(bits: int, max_hamming: int) -> "list[tuple[int, int]]":
    """The pigeonhole block layout, ``(offset, mask)`` per block — the
    one definition behind the DSL pair path
    (:func:`_signature_blocks_grouped`) and the fused
    :func:`simhash_report_rows` statement: ``max_hamming + 1`` blocks
    cut from the ``bits``-wide signature."""
    n_blocks = max_hamming + 1
    if bits < n_blocks:
        raise ValueError("need at least one bit per block")
    # distribute bits EVENLY (floor + remainder): ceil sizing can push
    # the last block past the bit width, where its value is 0 for every
    # document and the per-block equi-join degenerates to all-pairs
    base, rem = divmod(bits, n_blocks)
    sizes = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    # a FULL-width block (bits=64, max_hamming=0) needs the all-ones
    # mask -1: (1 << 64) - 1 overflows a long (F.lit died on it as a
    # cryptic py4j NumberFormatException)
    return [(sum(sizes[:i]), (1 << n) - 1 if n < 64 else -1)
            for i, n in enumerate(sizes)]


def _minimal_block_sql(layout: "list[tuple[int, int]]") -> str:
    """SQL predicate: true iff ``block`` is the FIRST pigeonhole block
    on which the member signatures ``a.s`` and ``b.s`` agree — the
    cross-block pair dedup as pure bit arithmetic, shared by
    :func:`_pairs_from_grouped` (through ``F.expr``) and
    :func:`simhash_report_rows`."""
    return " AND ".join(
        f"(block <= {j} OR (shiftright(a.s, {off}) & {mask}) "
        f"!= (shiftright(b.s, {off}) & {mask}))"
        for j, (off, mask) in enumerate(layout[:-1])) or "true"


def _signature_blocks_grouped(sh: DataFrame, id_col: str, bits: int,
                              max_hamming: int):
    """Group the ``simhash`` signatures of ``sh`` by (block, value);
    returns (grouped_df, layout) — see :func:`_block_layout`."""
    layout = _block_layout(bits, max_hamming)
    block_structs = [
        F.struct(F.lit(i).alias("block"),
                 F.shiftright(F.col("simhash"), off)
                 .bitwiseAND(F.lit(mask)).alias("value"))
        for i, (off, mask) in enumerate(layout)
    ]
    banded = sh.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*block_structs)).alias("b"),
    ).select(id_col, "simhash", "b.block", "b.value")
    # sort_array over (id, signature) structs orders by id first, so the
    # positional i<j enumeration emits doc_a < doc_b directly; member
    # structs are narrow (id + long signature), so the group-size
    # ceiling checks AFTER the fold
    grouped = banded.groupBy("block", "value").agg(
        F.sort_array(F.collect_list(
            F.struct(F.col(id_col).alias("i"),
                     F.col("simhash").alias("s")))).alias("ms"))
    # NULL signatures (undecodable payloads handed to
    # signature_hamming_pairs; the simhash path pre-filters NULL text
    # at the source) would all land in the same (block, NULL) groups —
    # one spurious giant candidate set per block whose pairs
    # bit_count(NULL) would only discard afterwards. Dropped on the
    # grouping key, which Catalyst pushes BELOW the aggregation to
    # just above the block Generate (a deterministic predicate on a
    # grouping expression passes through Aggregate; the generated
    # `value` attribute stops it there) — so NULL rows never enter the
    # collect_list buffers (no NULL-heavy-corpus OOM, ceiling
    # unaffected) AND a caller-COMPUTED signature column is not
    # re-evaluated inside the filter (the d0d052e class; a pre-banding
    # df.filter(sig.isNotNull()) was measured to double the fold).
    # Both properties are plan-locked in tests/test_plans.py.
    grouped = grouped.filter(F.col("value").isNotNull())
    grouped = grouped.filter(
        require_group_within(F.size("ms"), "signature pigeonhole block"))
    return grouped, layout


def _pairs_from_grouped(grouped: DataFrame, max_hamming: int,
                        layout: "list[tuple[int, int]]") -> DataFrame:
    """Stream i<j pairs out of the per-(block, value) member arrays.

    A pair within the Hamming radius can collide in SEVERAL blocks; the
    naive dedup is a ``.distinct()`` — a full extra shuffle over the
    pair stream.  Instead each pair is emitted ONLY from its MINIMAL
    agreeing block: since both full signatures ride along in the member
    structs, "the pair also agrees on some earlier block j < block" is
    a pure bit-arithmetic predicate, so the dedup costs a few codegen'd
    comparisons per candidate and the pair stream stays narrow (no
    post-fold shuffle at all).  ``layout`` is the block layout from
    :func:`_block_layout`.
    """
    outer = (grouped.filter(F.size("ms") > 1)
             .select("block", "ms", F.posexplode("ms").alias("_i", "a")))
    pairs = outer.select(
        "block", "a",
        F.explode(
            F.expr("slice(ms, _i + 2, size(ms) - _i - 1)")).alias("b"))
    return (
        pairs.filter(F.expr(_minimal_block_sql(layout)))
        .select(
            F.col("a.i").alias("doc_a"), F.col("b.i").alias("doc_b"),
            F.bit_count(F.col("a.s").bitwiseXOR(F.col("b.s")))
            .alias("hamming"))
        .filter((F.col("doc_a") < F.col("doc_b"))
                & (F.col("hamming") <= max_hamming))
    )


def simhash_report(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", bits: int = 48,
                   max_hamming: int = 2):
    """Both SimHash dedup outputs from ONE signature pass: `(buckets,
    pairs)` — buckets are exact-signature candidate groups over the
    FIRST pigeonhole block (bits // (max_hamming+1) wide; with the
    48-bit/radius-2 defaults that is exactly the 16-bit
    :func:`simhash_buckets` signature, since bit i of a simhash does
    not depend on the total width), pairs are the Hamming-radius
    near-dups of :func:`simhash_hamming_pairs`.

    NULL-text documents appear in NEITHER output (no bucket, no pair)
    — the :func:`simhash_buckets` contract; chain :func:`exact_dedup`
    for exact coverage of unknown-content rows if needed.

    The signature fold (token-array walk + groupBy(block, value)) is
    the dominant cost at corpus scale, so it must run ONCE for both
    outputs. Branching two lazy frames off the grouped plan is NOT
    enough: Catalyst pushes the buckets branch's ``block == 0`` filter
    BELOW the aggregation, so the two exchange subtrees differ and
    nothing is reused — the fold runs twice (observed in round 7's
    physical plans: two full scans, two folds). The grouped frame is
    therefore materialized with an eager ``localCheckpoint`` — the
    established shared-consumer pattern here (funnel_steps,
    neardup_components) — and both branches scan the checkpointed
    blocks. Only rows a consumer can use are checkpointed: pairs read
    nothing but multi-member groups and buckets read only block 0, so
    the narrow post-agg filter ``block == 0 OR size(ms) > 1`` drops the
    dominant population (singleton groups of blocks 1..n) before the
    checkpoint write — at 48-bit signatures that is ~2/3 of the rows.
    """
    grouped, layout = _simhash_blocks_grouped(
        df, text_col, id_col, bits, max_hamming)
    grouped = grouped.filter(
        (F.col("block") == 0) | (F.size("ms") > 1)
    ).localCheckpoint(eager=True)
    buckets = grouped.filter(F.col("block") == 0).select(
        F.col("value").alias("simhash"),
        F.size("ms").alias("n_docs"),
        F.col("ms")[0]["i"].alias("min_doc"))
    return buckets, _pairs_from_grouped(grouped, max_hamming, layout)


def simhash_report_rows(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", bits: int = 48,
                        max_hamming: int = 2) -> DataFrame:
    """Fused single-plan SimHash report: the bucket AND pair rows of
    :func:`simhash_report` as ONE row-typed frame — kind='bucket' rows
    (v1=simhash, v2=n_docs, v3=min_doc; block-0 groups) and kind='pair'
    rows (v1=doc_a, v2=doc_b, v3=hamming).

    Where :func:`simhash_report` materializes the grouped fold with a
    localCheckpoint so its two output frames don't each recompute it,
    this variant has NO branch to share: one explode chain over the
    grouped frame emits a bucket head per block-0 group plus the i<j
    pair seeds per multi-member group, and a second Generate streams
    each seed's strictly-later slice exactly like
    :func:`_pairs_from_grouped` — so the plan is scan -> fold ->
    Generate -> Generate, the signature fold appears ONCE, and no
    checkpoint job or rescan exists at all. Per-row resident memory
    stays O(member-array), never O(group^2): seeds carry only an index,
    the slice is taken inside the second Generate. Pair dedup is the
    minimal-agreeing-block predicate (bit arithmetic, no distinct).

    The fused (v1, v2, v3) schema is LONG, so ``id_col`` must be an
    integral column — refused at call time: the silent alternative was
    a deep-plan CAST_INVALID_INPUT under ANSI and NULLed-out doc ids
    under non-ANSI (doc identity silently destroyed); the two-frame
    :func:`simhash_report` handles string ids and is the right tool.
    """
    id_type = dict(df.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"simhash_report_rows: id_col {id_col!r} has type "
            f"{id_type!r} — the fused (v1, v2, v3) long schema needs "
            "an integral id (non-ANSI would silently NULL doc ids "
            "out); use simhash_report for string ids")
    th, sh = _simhash_sql(text_col, bits)
    layout = _block_layout(bits, max_hamming)
    # r18: the whole pipeline is built as ONE spark.sql statement.
    # The step-by-step Column-DSL build of the same plan cost ~306 ms
    # of pure driver time per call (measured min-of-7 at sf0.1: each
    # of the ~14 chained transformations re-runs eager analysis over
    # the full fold-bearing plan plus its py4j round-trips); the fused
    # CTE form is a single parse + one analysis pass (~70 ms). Every
    # CTE mirrors one step of the former DSL chain (same expressions,
    # same filter placement), so the optimized plan — fold-once, two
    # chained Generates, no post-fold shuffle — is unchanged
    # (plan-locked in tests/test_plans.py; value-equivalence of the
    # fused build is pinned in tests/test_llm.py).
    src = ensure_min_partitions(df.filter(F.col(text_col).isNotNull()))
    block_structs = ", ".join(
        f"named_struct('block', {i}, 'value', "
        f"(shiftright(simhash, {off}) & {mask}))"
        for i, (off, mask) in enumerate(layout))
    e_arr = (
        "concat("
        "filter(array(named_struct('k', 0, 'i', -1)), x -> block = 0), "
        "IF(size(ms) > 1, transform(sequence(0, size(ms) - 2), "
        "   x -> named_struct('k', 1, 'i', cast(x as int))), "
        "   filter(array(named_struct('k', 1, 'i', -1)), x -> false)))"
    )
    hamming = "bit_count(a.s ^ b.s)"
    return df.sparkSession.sql(f"""
      WITH _t AS (
        SELECT {sql_ident(id_col)} AS doc_id, {th} AS _th
        FROM {{src}}
      ),
      _sh AS (SELECT doc_id, {sh} AS simhash FROM _t),
      _b0 AS (SELECT doc_id, simhash,
                     explode(array({block_structs})) AS b
              FROM _sh),
      _banded AS (SELECT doc_id, simhash, b.block AS block,
                         b.value AS value FROM _b0),
      _g0 AS (
        SELECT block, value,
               sort_array(collect_list(named_struct('i', doc_id,
                                                    's', simhash))) AS ms
        FROM _banded
        GROUP BY block, value
      ),
      _grouped AS (
        SELECT * FROM _g0
        WHERE value IS NOT NULL
          AND {_group_ceiling_sql('size(ms)', 'signature pigeonhole block')}
      ),
      _ex1 AS (SELECT block, value, ms, explode({e_arr}) AS e
               FROM _grouped),
      _ex2 AS (SELECT block, value, ms, e,
                      explode_outer(IF(e.k = 1,
                        slice(ms, e.i + 2, size(ms) - e.i - 1),
                        slice(ms, 1, 0))) AS b,
                      element_at(ms, IF(e.k = 1, e.i + 1, 1)) AS a
               FROM _ex1)
      SELECT CASE WHEN e.k = 0 THEN 'bucket' ELSE 'pair' END AS kind,
             CAST(CASE WHEN e.k = 0 THEN value ELSE a.i END AS BIGINT) AS v1,
             CAST(CASE WHEN e.k = 0 THEN size(ms) ELSE b.i END AS BIGINT) AS v2,
             CAST(CASE WHEN e.k = 0 THEN ms[0].i
                       ELSE {hamming} END AS BIGINT) AS v3
      FROM _ex2
      WHERE e.k = 0 OR (b IS NOT NULL AND a.i < b.i
                        AND {hamming} <= {int(max_hamming)}
                        AND {_minimal_block_sql(layout)})
    """, src=src)


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    min_count: int = 2, clean: bool = True) -> DataFrame:
    """Exact duplicated-substring detection/removal in the style of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every k-token window is hashed; windows whose hash occurs
    >= `min_count` times across the WHOLE corpus (including within one
    document) mark their k tokens as duplicated; overlapping marks
    merge into maximal spans.

    Adds: ``n_dup_spans`` (maximal duplicated spans), ``n_dup_tokens``
    (tokens covered by any duplicated window) and, with ``clean=True``,
    ``substr_cleaned`` — the lowercase text with duplicated spans cut
    out (the Lee et al. removal step; whitespace-exact for the kept
    tokens). NULL ``text_col`` yields NULL metrics.

    Scale shape: ONE corpus-wide window explode (~n_tokens rows — the
    inherent cost of substring-level dedup), a groupBy(hash) count with
    map-side partial aggregation, a merge-hinted join back (output ==
    occurrence rows of duplicated hashes: a viral boilerplate hash
    cannot blow the join up the way a pair-join would, its occurrences
    stream through one sort-merge group), and a per-document
    aggregation bounded by document length. The span merge is a single
    array fold over the sorted duplicate positions; span-list rebuild
    per step makes it O(|positions| * |spans|) per document — bounded
    by document size, never corpus size.
    """
    df = ensure_min_partitions(df)
    with_t = df.withColumn("_tk", tokens_col(F.col(text_col)))
    wh = F.when(
        F.size("_tk") >= k,
        F.expr(f"transform(sequence(0, size(_tk) - {k}), "
               f"p -> md5(array_join(slice(_tk, p + 1, {k}), ' ')))"),
    ).otherwise(F.expr("array()").cast("array<string>"))
    wins = with_t.select(F.col(id_col), F.posexplode(wh).alias("_p", "_h"))
    dup_h = (wins.groupBy("_h").agg(F.count("*").alias("_c"))
             .filter(F.col("_c") >= min_count).select("_h"))
    perdoc = (wins.hint("merge").join(dup_h, "_h")
              .groupBy(id_col)
              .agg(F.sort_array(F.collect_list("_p")).alias("_P")))
    out = with_t.join(perdoc, id_col, "left")
    # merge sorted window starts into maximal [s, e) spans: seed with a
    # sentinel so the fold's CASE never probes an empty accumulator
    spans = (
        "slice(aggregate(_P, array(named_struct('s', -1, 'e', -1)), "
        "(acc, p) -> CASE WHEN element_at(acc, -1).e >= p "
        "THEN concat(slice(acc, 1, size(acc) - 1), "
        "array(named_struct('s', element_at(acc, -1).s, "
        f"'e', greatest(element_at(acc, -1).e, p + {k})))) "
        f"ELSE concat(acc, array(named_struct('s', p, 'e', p + {k}))) "
        "END), 2, 2147483647)"
    )
    out = out.withColumn(
        "_spans", F.when(F.col(text_col).isNotNull(),
                         F.coalesce(F.expr(spans),
                                    F.expr("array()").cast(
                                        "array<struct<s:int,e:int>>"))))
    out = out.withColumn(
        "n_dup_spans",
        F.when(F.col(text_col).isNotNull(), F.size("_spans"))
    ).withColumn(
        "n_dup_tokens",
        F.when(F.col(text_col).isNotNull(),
               F.expr("aggregate(_spans, 0, (a, sp) -> a + sp.e - sp.s)")))
    if clean:
        out = out.withColumn(
            "substr_cleaned",
            F.when(F.col(text_col).isNotNull(), F.expr(
                "array_join(filter(_tk, (t, i) -> NOT exists(_spans, "
                "sp -> i >= sp.s AND i < sp.e)), ' ')")))
    return out.drop("_tk", "_P", "_spans")
