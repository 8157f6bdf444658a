"""Mask apply/recover (SURVEY §2.9 G10/G11; reference apply_mask.py,
recover_mask.py).

Masked arrays are represented as NULL elements inside the ``d`` array
(Spark array elements are nullable), which makes apply/recover pure
``zip_with``/``transform`` — no masked-array runtime needed and the
representation survives parquet round-trips.

- ``apply_mask``: pair each '@'-typvar variable row with its mask row
  (typvar == mask_typvar, default '@@') on the 17 shared keys (all BASE
  columns except typvar/datyp/nbits/datev/d — apply_mask.py:56), then NULL
  out elements where the mask says "drop" (keep_value polarity,
  apply_mask.py:71-75). Mask rows are removed from the output.
- ``recover_mask``: the inverse — split each LONE masked-variable row
  into a data row (NULLs replaced by 0) and a uint 0/1 mask row with
  typvar '@@', datyp 2, nbits 1; an already-paired (var, mask) group
  passes through unchanged (recover_mask.py:61-82).

``apply_mask``'s pairing is ONE ``groupBy`` over the pairing key with a
2-element ``collect_list`` fold (r19): the previous self-join of two
disjoint filters duplicated the entire upstream lineage (each join side
re-computed the source) and cost two window-sorted exchanges plus a
sort-merge join; the fold computes the group once behind a single hash
exchange. The 2-rows-per-group assertion is evaluated in the same
aggregate (and stays available as a query via
:func:`unpaired_mask_groups`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fstd2pandas_spark.schema import BASE_COLUMNS, META_NOMVARS

#: pairing key (apply_mask.py:56)
MASK_GROUP_COLS = [
    c for c in BASE_COLUMNS if c not in ("typvar", "datyp", "nbits", "datev", "d")
]


class MaskError(Exception):
    pass


def _split(df: DataFrame, mask_typvar: str):
    """meta / masked / not_masked, a true three-way partition: a NULL
    nomvar is a data row (pandas' ~isin keeps NaN — the select.py
    rule) and a NULL typvar lands in not_masked (it cannot name a
    mask pairing; modern pandas raises on the NA mask, so there is no
    reference behavior to diverge from — pass-through loses nothing)."""
    meta = df.filter(F.col("nomvar").isin(META_NOMVARS))
    no_meta = df.filter(~F.col("nomvar").isin(META_NOMVARS)
                        | F.col("nomvar").isNull())
    masked = no_meta.filter(F.col("typvar").contains("@"))
    not_masked = no_meta.filter(~F.col("typvar").contains("@")
                                | F.col("typvar").isNull())
    return meta, masked, not_masked


def _group_size_guard(masked: DataFrame) -> DataFrame:
    """Attach the per-pairing-group row count ``_n``, guarded LOUDLY:
    the reference RAISES on malformed groups (recover_mask.py:66) where
    a bare inner join silently DROPPED an unpaired variable and
    silently FANNED OUT a duplicated mask — data loss/duplication
    reading as success. The window rides the exact key the pairing
    join shuffles on, so Catalyst plans one exchange for both. The
    guard lives in the count column itself so any branch filter
    evaluates it (callers filter on ``_n``)."""
    w = Window.partitionBy(*MASK_GROUP_COLS)
    key_str = F.concat_ws(
        "/", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
               for c in ("nomvar", "etiket", "ip1", "ip2", "ip3")])
    n = F.count("*").over(w)
    bad = n > 2
    msg = F.concat(
        F.lit("recover_mask: pairing group "), key_str,
        F.lit(" has "), n.cast("string"),
        F.lit(" rows — at most 2 (an already-recovered var+mask "
              "pair passes through; recover_mask.py:66); run "
              "unpaired_mask_groups to list every offender"))
    n_guarded = F.when(~bad, n).otherwise(
        F.raise_error(msg).cast("long"))
    return masked.withColumn("_n", n_guarded)


def apply_mask(df: DataFrame, mask_typvar: str = "@@",
               keep_value: int = 1) -> DataFrame:
    if len(mask_typvar) != 2:
        raise MaskError(f"mask_typvar has to be 2 characters! provided {mask_typvar}")
    if keep_value not in (0, 1):
        raise MaskError(f"keep_value can only be 0 or 1! provided {keep_value}")

    meta, masked, not_masked = _split(df, mask_typvar)
    # ONE groupBy pair-fold over the pairing key (r19): the previous
    # merge self-join planned the entire masked lineage TWICE (once per
    # join side) plus two window-sorted exchanges and a sort-merge join;
    # the fold is a single hash exchange + aggregate. Measured value-
    # equal on 600k cells and equal-to-faster at sf0.1; structurally
    # strictly smaller at scale (plans/r19/fst_mask_apply_*).
    rest = [c for c in df.columns if c not in MASK_GROUP_COLS]
    grp = masked.groupBy(*MASK_GROUP_COLS).agg(
        F.collect_list(F.struct(*rest)).alias("_g"))
    n = F.size("_g")
    nm = F.size(F.filter("_g", lambda g: g["typvar"] == F.lit(mask_typvar)))
    key_str = F.concat_ws(
        "/", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
               for c in ("nomvar", "etiket", "ip1", "ip2", "ip3")])
    # the reference's apply_mask.py:63 check — a 3-row group /
    # duplicated mask RAISES instead of silently dropping / fanning out
    msg = F.concat(
        F.lit("apply_mask: pairing group "), key_str,
        F.lit(" has "), n.cast("string"), F.lit(" rows ("),
        nm.cast("string"),
        F.lit(f" with mask typvar {mask_typvar!r}) — there should "
              "be exactly 2 rows per group, 1 of them the mask "
              "(apply_mask.py:63); run unpaired_mask_groups to "
              "list every offender"))
    bad = (n != 2) | (nm != 1)
    # the old inner join silently dropped WELL-FORMED pairs with a NULL
    # pairing key but still raised on malformed NULL-key groups (the
    # guard evaluated before the join dropped them) — reproduce both,
    # and keep the NULL-key drop INSIDE the guarded column so Catalyst
    # cannot push it below the aggregate past the raise
    nullkey = None
    for c in MASK_GROUP_COLS:
        cond = F.col(c).isNull()
        nullkey = cond if nullkey is None else (nullkey | cond)
    n_guarded = F.when(~bad, F.when(~nullkey, n)).otherwise(
        F.raise_error(msg).cast("int"))
    grp = grp.withColumn("_n", n_guarded).filter(F.col("_n") == 2)
    var = F.element_at(
        F.filter("_g", lambda g: g["typvar"] != F.lit(mask_typvar)), 1)
    mask = F.element_at(
        F.filter("_g", lambda g: g["typvar"] == F.lit(mask_typvar)), 1)
    # keep polarity matches the reference's astype(bool) exactly
    # (apply_mask.py:71-75): keep_value=1 keeps where the mask element
    # is NONZERO (NaN included — truthy in numpy, and NaN != 0 is true
    # here), not only where it equals 1; keep_value=0 keeps where it
    # is exactly zero. A NULL mask element keeps nothing (no reference
    # analog; both branches evaluate NULL -> masked out).
    if keep_value == 1:
        def keep_cond(m):
            return m != F.lit(0.0)
    else:
        def keep_cond(m):
            return m == F.lit(0.0)
    masked_d = F.zip_with(
        var["d"], mask["d"],
        lambda v, m: F.when(keep_cond(m), v).otherwise(F.lit(None)),
    )
    applied = grp.select(
        *MASK_GROUP_COLS,
        *[(masked_d if c == "d" else var[c]).alias(c) for c in rest])
    return (
        meta.unionByName(not_masked)
        .unionByName(applied.select(df.columns))
    )


def recover_mask(df: DataFrame, mask_typvar: str = "@@",
                 keep_value: int = 1) -> DataFrame:
    if len(mask_typvar) != 2:
        raise MaskError(f"mask_typvar has to be 2 characters! provided {mask_typvar}")
    if keep_value not in (0, 1):
        raise MaskError(f"keep_value can only be 0 or 1! provided {keep_value}")

    meta, masked, not_masked = _split(df, mask_typvar)
    guarded = _group_size_guard(masked)
    # Reference semantics (recover_mask.py:61-82), matched exactly:
    # a 2-row group is an ALREADY-recovered var+mask pair and passes
    # through UNCHANGED — the old code silently DROPPED the existing
    # mask row and synthesized a replacement from the var's NULLs
    # (all-keep when the var was never apply_mask'ed: a fabricated
    # mask overwriting a real one); a 1-row group (whatever its
    # typvar — the reference synthesizes from a lone mask row too)
    # splits into data + synthesized mask; >2 raises in the guard.
    passthrough = guarded.filter(F.col("_n") == 2).drop("_n")
    vars_ = guarded.filter(F.col("_n") == 1).drop("_n")
    keep = float(keep_value)

    data_rows = vars_.withColumn(
        "d", F.transform(F.col("d"), lambda v: F.coalesce(v, F.lit(0.0).cast("float")))
    )
    mask_rows = (
        vars_.withColumn(
            "d",
            F.transform(
                F.col("d"),
                lambda v: F.when(v.isNotNull(), F.lit(keep))
                .otherwise(F.lit(1.0 - keep)).cast("float"),
            ),
        )
        .withColumn("typvar", F.lit(mask_typvar))
        .withColumn("datyp", F.lit(2))
        .withColumn("nbits", F.lit(1))
    )
    return (
        meta.unionByName(not_masked)
        .unionByName(passthrough.select(df.columns))
        .unionByName(data_rows.select(df.columns))
        .unionByName(mask_rows.select(df.columns))
    )


def unpaired_mask_groups(df: DataFrame, mask_typvar: str = "@@") -> DataFrame:
    """Validation: masked groups that do not have exactly 2 rows
    (apply_mask.py:62-63's assertion, as a query)."""
    _, masked, _ = _split(df, mask_typvar)
    return (
        masked.groupBy(*MASK_GROUP_COLS).count().filter(F.col("count") != 2)
    )
