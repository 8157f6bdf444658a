"""Unit conversion (SURVEY §2.8 C17-C19; reference unit.py).

All conversions in the reference's UNITS table reduce to one affine form
through the SI base unit::

    si   = (v + bias_from) * factor_from
    v_to = si / factor_to - bias_to

which reproduces the reference's special-cased temperature family
(celsius: bias 273.15, factor 1; fahrenheit: bias 459.67, factor 5/9;
rankine: bias 0, factor 5/9 — unit.py:15-190) and its
``factor_conversion`` for everything else (unit.py:138-144). Conversion is
only legal within one dimensional family (same ``expression``,
unit.py:215-219).

The per-record conversion is a broadcast join against the UNITS table for
the from/to rows, then one ``transform`` over ``d`` — JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.lookups import units_df, get_unit_row, stdvar_df
from fstd2pandas_spark.schema import META_NOMVARS


class UnitConversionError(Exception):
    pass


def converter_columns(from_bias: Column, from_factor: Column,
                      to_bias: Column, to_factor: Column) -> tuple[Column, Column]:
    """(scale, offset) such that ``v_to = v * scale + offset``."""
    scale = from_factor / to_factor
    offset = from_bias * from_factor / to_factor - to_bias
    return scale, offset


def unit_convert(df: DataFrame, to_unit_name: str = "scalar",
                 standard_unit: bool = False) -> DataFrame:
    """Convert the data arrays of all records to ``to_unit_name``
    (unit.py:258-313).

    - requires/derives a ``unit`` column (broadcast stdvar join);
    - meta records pass through untouched;
    - rows already in the target unit, or with 'scalar' on either side
      (when not ``standard_unit``), pass through;
    - different dimensional family: error flag per the reference -> here
      those rows pass through unconverted when ``standard_unit`` else the
      caller should validate beforehand (the reference raises driver-side;
      a distributed engine can't raise per-row, so an ``_unit_family_ok``
      check is exposed via :func:`family_mismatch_rows`);
    - sets ``unit`` and the ``unit_converted`` typvar flag on converted rows.

    With ``standard_unit=True`` the target is each variable's dictionary
    unit (stdvar join) instead of ``to_unit_name``.
    """
    if "unit" not in df.columns:
        lookup = F.broadcast(stdvar_df().select("nomvar", "unit"))
        df = (
            df.join(lookup, "nomvar", "left")
            .withColumn("unit", F.coalesce(F.col("unit"), F.lit("scalar")))
        )

    units = units_df().select(
        F.col("name"), F.col("expression").alias("_expr"),
        F.col("bias").alias("_bias"), F.col("factor").alias("_factor"),
    )

    is_meta = F.col("nomvar").isin(META_NOMVARS)

    # attach from-unit params
    out = df.join(
        F.broadcast(units.withColumnRenamed("name", "unit")
                    .withColumnRenamed("_expr", "_fexpr")
                    .withColumnRenamed("_bias", "_fbias")
                    .withColumnRenamed("_factor", "_ffactor")),
        "unit", "left",
    )
    # attach to-unit params
    if standard_unit:
        target = F.broadcast(
            stdvar_df().select("nomvar", F.col("unit").alias("_to_name"))
        )
        out = out.join(target, "nomvar", "left")
        out = out.withColumn("_to_name", F.coalesce(F.col("_to_name"), F.lit("scalar")))
    else:
        out = out.withColumn("_to_name", F.lit(to_unit_name))
    out = out.join(
        F.broadcast(units.withColumnRenamed("name", "_to_name")
                    .withColumnRenamed("_expr", "_texpr")
                    .withColumnRenamed("_bias", "_tbias")
                    .withColumnRenamed("_factor", "_tfactor")),
        "_to_name", "left",
    )

    convertible = (
        ~is_meta
        & (F.col("unit") != F.col("_to_name"))
        & (F.col("unit") != "scalar") & (F.col("_to_name") != "scalar")
        & (F.col("_fexpr") == F.col("_texpr"))
        & F.col("_fexpr").isNotNull()
    )
    scale, offset = converter_columns(
        F.col("_fbias"), F.col("_ffactor"), F.col("_tbias"), F.col("_tfactor")
    )
    converted_d = F.transform(
        F.col("d"), lambda x: (x.cast("double") * scale + offset).cast("float")
    )
    # one withColumns call: every expression reads the INPUT columns, so
    # ``convertible`` is evaluated against the source unit, never the
    # rewritten one
    updates = {
        "d": F.when(convertible, converted_d).otherwise(F.col("d")),
        "unit": F.when(convertible, F.col("_to_name")).otherwise(F.col("unit")),
        "typvar": F.when(convertible & (F.length("typvar") < 2),
                         F.concat(F.col("typvar"), F.lit("U")))
        .otherwise(F.col("typvar")),
    }
    if "unit_converted" in df.columns:
        updates["unit_converted"] = F.when(convertible, F.lit(True)) \
            .otherwise(F.col("unit_converted"))
    return out.withColumns(updates).select(*df.columns)


def family_mismatch_rows(df: DataFrame, to_unit_name: str) -> DataFrame:
    """Rows whose unit family differs from the target's — the reference
    raises UnitConversionError for these (unit.py:215-217); at scale this
    is a validation query the caller runs before converting."""
    to_row = get_unit_row(to_unit_name)
    units = units_df().select(
        F.col("name").alias("unit"), F.col("expression").alias("_expr")
    )
    return (
        df.filter(~F.col("nomvar").isin(META_NOMVARS)
                  | F.col("nomvar").isNull())
        .join(F.broadcast(units), "unit", "left")
        .filter(
            (F.col("unit") != "scalar")
            & (F.col("unit") != to_unit_name)
            & (F.col("_expr") != F.lit(to_row["expression"]))
        )
        .drop("_expr")
    )
