"""Text-analysis operators: language-ID, quality, tokens, fingerprints.

All pure Column expressions (split/regexp/higher-order aggregates) —
JVM-side, shuffle-free maps over documents; every formula is also
expressible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from fstd2pandas_spark.plans.partitioning import ensure_min_partitions

#: marker stopwords per language for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "en": ["the", "and", "of", "is", "to", "in"],
    "es": ["el", "los", "de", "y", "que", "la"],
    "fr": ["le", "la", "et", "les", "des", "un"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

#: BPE-ish token pattern: letter runs, digit runs, or single punctuation
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

MOD_PRIME = 1_000_000_007


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for splicing into SQL text (r19):
    the fused spark.sql builders interpolate caller-supplied column
    names, and an unquoted name containing spaces/hyphens/reserved
    words — legal to the F.col() paths they replaced — would break
    parsing (or worse, parse as an expression)."""
    return "`" + str(name).replace("`", "``") + "`"


def size_col(c: Column) -> Column:
    """``F.size`` with a CONFIG-INDEPENDENT NULL contract: under
    non-ANSI Spark, legacy ``sizeOfNull`` makes ``size(NULL)`` return
    -1 instead of NULL — a NULL-text doc then scored n_tokens = -1,
    quality -0.904, and the -1s poisoned every downstream running sum
    (the token packer's pack_offset shifted for EVERY later document).
    No legitimate array has size -1, so ``nullif(size, -1)`` restores
    the NULL-metric contract on every config and is a no-op under
    ANSI (round-15 find, surfaced by the mirror harness running after
    a test left the session non-ANSI)."""
    return F.nullif(F.size(c), F.lit(-1))


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.lower(text), " ")


def shingles_col(tokens: Column, k: int = 3) -> Column:
    """Word k-shingles (space-joined); empty array when < k tokens."""
    n = size_col(tokens)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda j: F.array_join(F.slice(tokens, j + 1, k), " "),
        )
    )


def token_hash_col(tok: Column) -> Column:
    """Deterministic 32-bit token hash = first 8 md5 hex digits as int.

    md5 is identical across engines, so the oracle reproduces it with
    ``CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "lang_pred") -> DataFrame:
    """Marker-stopword language heuristic: count marker hits per language,
    pick the max (ties broken by language name ascending; no hits -> 'und').
    """
    df = ensure_min_partitions(df)
    toks = tokens_col(F.col(text_col))
    # Linear argmax (r18, the ivf_cell_col fix): each language's marker
    # count appears ONCE in a scores array — the previous running-best
    # `when` chain embedded the accumulated expression twice per
    # language (2^n_langs copies of the interpreted filter-HOF per
    # row). Tie-break preserved: langs iterate sorted ascending and
    # array_position finds the FIRST occurrence of the max, exactly the
    # strictly-greater chain's lowest-name winner; `und` when no marker
    # hits (max <= 0) or NULL text (max NULL falls to otherwise).
    langs = sorted(LANG_MARKERS)
    scores = F.array(*[
        size_col(F.filter(toks, lambda t: t.isin(LANG_MARKERS[lang])))
        for lang in langs
    ])
    m = F.array_max(scores)
    best = F.when(
        m > 0,
        F.element_at(F.array(*[F.lit(lang) for lang in langs]),
                     F.array_position(scores, m).cast("int")),
    ).otherwise(F.lit("und"))
    return df.withColumn(out_col, best)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score:

    - n_tokens, mean_token_len
    - punct_ratio  = punctuation chars / chars
    - stop_ratio   = English stopword tokens / tokens
    - score = 0.4*min(n_tokens/100,1) + 0.3*(1-punct_ratio)
              + 0.3*min(stop_ratio*5, 1)     (rounded to 6 dp)
    """
    toks = tokens_col(F.col(text_col))
    n_tok = size_col(toks)
    n_chars = F.length(F.col(text_col))
    mean_len = F.round(
        F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t)) /
        F.greatest(n_tok, F.lit(1)), 6)
    n_punct = size_col(F.filter(F.split(F.col(text_col), ""),
                              lambda c: c.isin(".", ",", "!", "?", ";", ":")))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    n_stop = size_col(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    stop_ratio = F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6)
    # composite in DECIMAL: the rounded 6-dp ratios cast exactly, every
    # product/sum is exact rational, and the final 6-dp round has
    # deterministic tie behavior in both engines (double arithmetic put
    # one fixture doc exactly on a x.xxxxxx5 tie and the engines split)
    p_dec = punct_ratio.cast("decimal(18,6)")
    s_dec = stop_ratio.cast("decimal(18,6)")
    one = F.lit("1").cast("decimal(18,6)")
    score = F.round(
        F.lit("0.004").cast("decimal(6,4)")
        * F.least(n_tok, F.lit(100)).cast("decimal(18,6)")
        + F.lit("0.3").cast("decimal(2,1)") * (one - p_dec)
        + F.lit("0.3").cast("decimal(2,1)")
        * F.least(s_dec * F.lit(5).cast("decimal(2,0)"), one),
        6,
    ).cast("double")
    # ONE withColumns batch (r19): the five chained withColumn calls
    # each re-ran eager analysis over the growing plan (~50 ms/build
    # saved; CollapseProject merged the chain anyway, so the plan and
    # values are unchanged)
    return df.withColumns({
        "n_tokens": n_tok,
        "mean_token_len": mean_len,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "quality": score,
    })


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    df = ensure_min_partitions(df)
    return (
        df.withColumn("ws_tokens", size_col(tokens_col(F.col(text_col))))
        .withColumn("bpe_tokens", F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)))
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Polynomial rolling hash over token hashes:
    ``fp = fold(tokens, 0, (acc, t) -> (acc*31 + h(t)) mod 1e9+7)``."""
    df = ensure_min_partitions(df)
    toks = tokens_col(F.col(text_col))
    fp = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + token_hash_col(t)) % MOD_PRIME,
    )
    return df.withColumn(out_col, fp)


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       method: str = "fold",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    filters, public): documents dominated by repeated lines / words /
    n-grams are boilerplate and get filtered before training.

    Adds integer counts plus 6-dp fractions:

    - ``n_tok_rep`` / ``n_tok_distinct`` and ``dup_word_frac``
      (1 - distinct/total tokens)
    - ``n_lines`` / ``n_lines_distinct`` and ``dup_line_frac``
      (split on newline)
    - ``top_bigram_count`` / ``n_bigrams`` and ``top_bigram_frac``
      (occurrences of the most frequent word 2-gram)

    ``method='fold'`` (default) computes the top-bigram count as a pure
    array fold — shuffle-free, O(distinct·n) per row, the right shape
    for web-scale corpora of ordinary documents.  ``method='explode'``
    is the long-document path: explode + two ``groupBy(id_col)``
    aggregations (map-side combined) so a 1M-token doc costs O(n log n)
    across the cluster instead of O(n²) in one task.
    """
    df = ensure_min_partitions(df)
    toks = tokens_col(F.col(text_col))
    n_tok = size_col(toks)
    n_dist = size_col(F.array_distinct(toks))
    lines = F.split(F.col(text_col), "\n")
    n_lines = size_col(lines)
    n_dlines = size_col(F.array_distinct(lines))

    # NULL-text contract (both methods): every metric is NULL — a doc
    # whose text is unknown must not look like an empty-but-clean one
    null_text = F.col(text_col).isNull()

    if method == "fold":
        # guard n < 2 explicitly: sequence(1, 0) counts DOWN in Spark
        # ([1, 0]), it is not empty. The bigram array materializes
        # behind a projection boundary FIRST — HOF lambdas have no
        # loop-invariant hoisting, so an inlined {bg} inside the
        # distinct-transform would rebuild the whole array once per
        # distinct bigram (see minhash_signature's comment)
        bg = (f"CASE WHEN size(split(lower({text_col}), ' ')) < 2 "
              f"THEN array() "
              f"ELSE transform(sequence(1, size(split(lower({text_col})"
              f", ' ')) - 1), j -> concat_ws(' ', "
              f"slice(split(lower({text_col}), ' '), j, 2))) END")
        top = ("CASE WHEN size(_bg) = 0 THEN 0 ELSE "
               "array_max(transform(array_distinct(_bg), "
               "b -> size(filter(_bg, x -> x = b)))) END")
        # withColumns (plural): each chained withColumn re-runs eager
        # analysis over the whole plan — batching the independent
        # columns into one call is a single analysis pass (r18; the
        # optimized plan is identical, CollapseProject merged the
        # chain anyway)
        out = (
            df.withColumn("_bg", F.expr(bg))
            .withColumns({
                "top_bigram_count": F.expr(top).cast("long"),
                # greatest() skips NULL inputs, so guard NULL text
                # explicitly to keep the NULL-metric contract
                "n_bigrams": F.when(
                    ~null_text,
                    F.greatest(n_tok - 1, F.lit(0))).cast("long"),
            })
            .drop("_bg")
        )
    elif method == "explode":
        bg_counts = (
            df.select(F.col(id_col),
                      F.explode(shingles_col(toks, 2)).alias("_bg"))
            .groupBy(id_col, "_bg").agg(F.count("*").alias("_c"))
            .groupBy(id_col).agg(
                F.max("_c").alias("top_bigram_count"),
                F.sum("_c").alias("n_bigrams"))
        )
        out = (
            df.join(bg_counts, id_col, "left")
            .withColumn("top_bigram_count", F.when(
                ~null_text,
                F.coalesce(F.col("top_bigram_count"), F.lit(0))))
            .withColumn("n_bigrams", F.when(
                ~null_text, F.coalesce(F.col("n_bigrams"), F.lit(0))))
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    return out.withColumns({
        "n_tok_rep": n_tok.cast("long"),
        "n_tok_distinct": n_dist.cast("long"),
        "n_lines": n_lines.cast("long"),
        "n_lines_distinct": n_dlines.cast("long"),
        "dup_word_frac": F.round(
            (n_tok - n_dist) / F.greatest(n_tok, F.lit(1)), 6),
        "dup_line_frac": F.round(
            (n_lines - n_dlines) / F.greatest(n_lines, F.lit(1)), 6),
        "top_bigram_frac": F.round(
            F.col("top_bigram_count") /
            F.greatest(F.col("n_bigrams"), F.lit(1)), 6),
    })


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16,
            out_col: str = "simhash") -> DataFrame:
    """SimHash over token hashes: bit b of the output is set when the sum
    of (+1/-1) votes of bit b across all token hashes is positive.

    One ``aggregate`` fold with an array-of-counts accumulator — the md5
    token hash is the fold input (computed once per token, not per bit),
    and the token-hash array is walked ONCE: the accumulator holds the
    per-bit set-counts, and ``votes_b > 0  <=>  2*count_b > n`` converts
    counts to sign votes at the end. Measured at sf0.1 this is ~1.5x the
    throughput of 16 unrolled per-bit folds (each re-walking the array).
    """
    # token-hash array behind a projection boundary: md5 once per token
    th, sh = _simhash_sql(text_col, bits)
    df = ensure_min_partitions(df)
    return (df.withColumn("_th", F.expr(th))
            .withColumn(out_col, F.expr(sh)).drop("_th"))


def _simhash_sql(text_col: str, bits: int) -> "tuple[str, str]":
    """The SimHash signature as SQL text, the one definition behind
    :func:`simhash` (through ``F.expr``) and the fused
    ``dedup.simhash_report_rows`` statement: ``(token_hashes, fold)`` —
    the per-token hash array of ``text_col`` (quoted through
    :func:`sql_ident`) and the count/sign fold over that array bound
    as ``_th``.

    SQL text because a wide expression assembled via the Column DSL
    costs hundreds of py4j round-trips (~2 s of pure driver-side build
    time); ``expr()`` parses it JVM-side in one call. The token hash
    takes 15 hex digits (60 bits, the widest md5 prefix that fits a
    signed bigint): an 8-digit (32-bit) base would leave bits 32+ of
    wider signatures constant-zero, which silently degenerates the
    pigeonhole blocks of
    :func:`~fstd2pandas_spark.operators.llm.dedup.simhash_hamming_pairs`
    covering those bits into an all-pairs join."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"simhash bits must be in 1..60 (md5-prefix base hash), "
            f"got {bits} — bits < 1 would give every document the "
            "constant signature 0, collapsing the whole corpus into "
            "one near-duplicate bucket")
    th = (f"transform(split(lower({sql_ident(text_col)}), ' '), "
          "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))")
    counts = (f"aggregate(_th, array_repeat(cast(0 as bigint), {bits}), "
              "(acc, h) -> transform(acc, (a, i) -> a + (shiftright(h, i) & 1)))")
    sh = (f"aggregate(transform({counts}, (c, i) -> "
          "CASE WHEN c * 2 > size(_th) "
          "THEN shiftleft(cast(1 as bigint), i) ELSE cast(0 as bigint) END), "
          "cast(0 as bigint), (a, x) -> a + x)")
    return th, sh


#: default Gopher-rule thresholds (Rae et al. 2021 §A1.1, adapted)
GOPHER_RULES: dict[str, tuple[float, float]] = {
    # metric -> (min, max) inclusive numeric bounds; both must be set
    # (use +/-inf for one-sided rules, not None)
    "n_tokens": (50, 100000),
    "mean_token_len": (3.0, 10.0),
    "stop_ratio": (0.02, 1.0),
    "dup_line_frac": (0.0, 0.30),
    "dup_word_frac": (0.0, 0.60),
    "top_bigram_frac": (0.0, 0.20),
}


def gopher_filter(df: DataFrame, rules: "dict | None" = None,
                  out_col: str = "gopher_keep") -> DataFrame:
    """Combined Gopher-style quality verdict over already-computed
    metric columns (:func:`quality_score` + :func:`repetition_metrics`):
    ``out_col`` is true iff every present metric is inside its
    [min, max] bounds, and ``gopher_fails`` counts the violated rules
    (the per-rule diagnostic pipelines log before dropping).

    Pure boolean algebra over columns the upstream operators computed
    in their single pass — adds no scan, no shuffle, no new subtree.
    Metrics absent from the frame are skipped, so the verdict composes
    with whichever metric subset the pipeline materialized.
    """
    rules = GOPHER_RULES if rules is None else rules
    checks = []
    for name, (lo, hi) in rules.items():
        if name not in df.columns:
            continue
        c = F.col(name)
        # a NULL metric (e.g. NULL-text doc) FAILS its rule — three-
        # valued logic would otherwise let empty documents pass every
        # bound while real short docs are rejected
        checks.append(F.coalesce((c >= lo) & (c <= hi), F.lit(False)))
    if not checks:
        raise ValueError("no rule metric is present in the DataFrame")
    fails = sum((F.when(~c, 1).otherwise(0) for c in checks), F.lit(0))
    return (df.withColumn("gopher_fails", fails.cast("int"))
            .withColumn(out_col, fails == 0))
