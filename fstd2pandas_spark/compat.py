"""Reference-named compatibility layer: every function here keeps the
NAME and call shape a user of the reference already types (fstpy
``dataframe.py`` / ``dataframe_utils.py`` / ``std_dec.py`` /
``unit.py`` / ``xarray_utils.py``), delegating to this engine's native
Column-expression operators.  Together with :mod:`fstd2pandas_spark.api`
(StandardFileReader/Writer) this is the drop-in surface: change the
import, keep the call sites.

Two deliberate deviations, both scale-driven:

- functions return (lazy) Spark DataFrames, not pandas — append
  ``.toPandas()`` for the reference's terminal behavior;
- reference functions that *print* (voir, fststat) return the frame
  instead; ``.show()`` restores the printing.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.functions.codecs import (
    decode_ip_py,
    encode_ip_from_user_py,
    forecast_hour_seconds,
    stamp_to_datetime_py,
    stamp_to_timestamp,
)
from fstd2pandas_spark.functions.meta import (
    data_type_str,
    grid_identifier,
    kind_str,
    parsed_etiket,
    typvar_flags,
    with_decoded_columns,
)
from fstd2pandas_spark.lookups import get_unit_row, stdvar_df


# --- dataframe.py column adders (reference dataframe.py:291-629) -----
#
# Reference contract: every adder "replaces original column(s) if
# present" — so each wrapper drops its own outputs before re-adding,
# which also makes add_columns idempotent and order-insensitive.

_ETIKET_COLS = ("label", "run", "implementation", "ensemble_member")
_FLAG_COLS = ("multiple_modifications", "zapped", "filtered",
              "interpolated", "unit_converted", "bounded", "missing_data",
              "ensemble_extra_info")
_IP_INFO_COLS = _ETIKET_COLS + _FLAG_COLS + (
    "date_of_observation", "date_of_validity", "forecast_hour",
    "data_type_str", "level", "ip1_kind", "ip1_pkind", "ip2_dec",
    "ip2_kind", "ip2_pkind", "ip3_dec", "ip3_kind", "ip3_pkind",
    "surface", "follow_topography", "ascending", "interval", "unit",
    "description")


def _replacing(df: DataFrame, cols: "tuple[str, ...]") -> DataFrame:
    present = [c for c in cols if c in df.columns]
    return df.drop(*present) if present else df


def add_parsed_etiket_columns(df: DataFrame) -> DataFrame:
    """label/run/implementation/ensemble_member from etiket
    (reference dataframe.py:316-333)."""
    df = _replacing(df, _ETIKET_COLS)
    et = parsed_etiket(F.col("etiket"))
    return df.select(
        "*", et["label"].alias("label"), et["run"].alias("run"),
        et["implementation"].alias("implementation"),
        et["ensemble_member"].alias("ensemble_member"))


def add_unit_and_description_columns(df: DataFrame) -> DataFrame:
    """unit/description via the stdvar dictionary broadcast join
    (reference dataframe.py:358-387)."""
    df = _replacing(df, ("unit", "description"))
    lookup = F.broadcast(stdvar_df().select(
        "nomvar", F.col("unit").alias("_u"),
        F.col("description_en").alias("_d")))
    return (
        df.join(lookup, "nomvar", "left")
        .withColumn("unit", F.coalesce(F.col("_u"), F.lit("scalar")))
        .withColumn("description", F.coalesce(F.col("_d"), F.lit("")))
        .drop("_u", "_d"))


def add_decoded_date_column(df: DataFrame, attr: str = "dateo") -> DataFrame:
    """date_of_observation / date_of_validity from the RMN stamp
    (reference dataframe.py:390-433)."""
    out = ("date_of_observation" if attr == "dateo" else "date_of_validity")
    return _replacing(df, (out,)).withColumn(out, stamp_to_timestamp(F.col(attr)))


def add_forecast_hour_column(df: DataFrame) -> DataFrame:
    """forecast_hour (seconds, deet*npas) — reference
    dataframe.py:440-468 keeps a timedelta; seconds are its integral."""
    return _replacing(df, ("forecast_hour",)).withColumn(
        "forecast_hour", forecast_hour_seconds(F.col("deet"), F.col("npas")))


def add_data_type_str_column(df: DataFrame) -> DataFrame:
    """datyp -> letter code (reference dataframe.py:471-497)."""
    return _replacing(df, ("data_type_str",)).withColumn(
        "data_type_str", data_type_str(F.col("datyp")))


def add_flag_values(df: DataFrame) -> DataFrame:
    """The 8 typvar-derived boolean flags (reference
    dataframe.py:208-213)."""
    return _replacing(df, _FLAG_COLS).select(
        "*", *typvar_flags(F.col("typvar")))


def add_shape_column(df: DataFrame) -> DataFrame:
    """(ni, nj) shape struct (reference dataframe.py:291-314)."""
    return _replacing(df, ("shape",)).withColumn(
        "shape", F.struct(F.col("ni"), F.col("nj")))


def add_ip_info_columns(df: DataFrame) -> DataFrame:
    """The full ip-decode family: level/kind/pkind for ip1/2/3 plus
    surface/follow_topography/ascending/interval (reference
    dataframe.py:500-579).

    Deliberate SUPERSET of the reference's variant: it delegates to the
    single-select decode cascade (:func:`with_decoded_columns`), which
    also adds/replaces unit, description, the decoded dates,
    forecast_hour, data_type_str and the 8 typvar flags — pre-existing
    columns of those names are replaced, matching every adder's
    "replaces original column(s) if present" contract.  Pruning back to
    just the ip family would leave a dead stdvar broadcast join in the
    plan that Catalyst cannot remove, so the extra columns are kept;
    select them away afterwards if they are unwanted."""
    return with_decoded_columns(_replacing(df, _IP_INFO_COLS))


def add_columns(df: DataFrame, columns: "str | list[str]" = (
        "flags", "etiket", "unit", "dateo", "datev", "forecast_hour",
        "datyp", "ip_info")) -> DataFrame:
    """The reference's column-adder dispatcher (dataframe.py:582-629),
    same subset keywords.  Unknown keywords are skipped with a logged
    warning, matching the reference's behavior.

    When ``'ip_info'`` is requested, the single-select decode cascade
    already produces every column the other adders would (etiket parse,
    unit/description join, decoded dates, forecast_hour, datyp letter,
    typvar flags), so those adders are skipped — running them first and
    dropping their outputs would leave a dead stdvar broadcast join in
    the plan that Catalyst cannot prune.
    """
    if isinstance(columns, str):
        columns = [columns]
    known = {"flags", "etiket", "unit", "dateo", "datev", "forecast_hour",
             "datyp", "ip_info"}
    for unknown in [c for c in columns if c not in known]:
        logging.getLogger(__name__).warning(
            "add_columns: unknown column keyword %r ignored", unknown)
    if "ip_info" in columns:
        from fstd2pandas_spark.operators.vgrid import (
            set_vertical_coordinate_type)

        return set_vertical_coordinate_type(
            with_decoded_columns(_replacing(df, _IP_INFO_COLS + ("vctype",))))
    if "etiket" in columns:
        df = add_parsed_etiket_columns(df)
    if "unit" in columns:
        df = add_unit_and_description_columns(df)
    if "dateo" in columns:
        df = add_decoded_date_column(df, "dateo")
    if "datev" in columns:
        df = add_decoded_date_column(df, "datev")
    if "forecast_hour" in columns:
        df = add_forecast_hour_column(df)
    if "datyp" in columns:
        df = add_data_type_str_column(df)
    if "flags" in columns:
        df = add_flag_values(df)
    return df


def add_grid_column(df: DataFrame) -> DataFrame:
    """grid identifier column (reference dataframe.py:20-45)."""
    from fstd2pandas_spark.operators.metadata import (
        add_grid_column as _impl)

    return _impl(df)


def reorder_columns(df: DataFrame) -> DataFrame:
    """voir-style column order (reference dataframe_utils.py:634-650);
    order-preserving — contrast with :func:`voir` which also sorts."""
    ordered = ["nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo",
               "ip1", "ip2", "ip3", "deet", "npas", "datyp", "nbits",
               "grtyp", "ig1", "ig2", "ig3", "ig4"]
    present = [c for c in ordered if c in df.columns]
    rest = [c for c in df.columns if c not in ordered]
    return df.select(*present, *rest)


def create_empty_dataframe(spark, num_rows: int = 1, **overrides) -> DataFrame:
    """Template record table with the full schema (reference
    dataframe.py:675-700)."""
    from fstd2pandas_spark.schema import empty_record_table

    return empty_record_table(spark, num_rows, **overrides)


# --- std_dec.py scalar decoders (driver-side helpers) ----------------

def convert_rmndate_to_datetime(stamp: int):
    """Scalar RMN stamp -> datetime (reference std_dec.py)."""
    return stamp_to_datetime_py(stamp)


def decode_ip123(nomvar_or_ip1, ip1_or_ip2, ip2_or_ip3, ip3=None):
    """Scalar (value, kind) triples for ip1/2/3 (reference
    std_dec.py ``decode_ip123``, via librmn DecodeIp). Accepts both the
    reference signature (nomvar, ip1, ip2, ip3) and the 3-ip form —
    nomvar only matters for interval detection, which lives in
    :func:`get_interval`."""
    ips = ((ip1_or_ip2, ip2_or_ip3, ip3) if ip3 is not None
           else (nomvar_or_ip1, ip1_or_ip2, ip2_or_ip3))
    return tuple(decode_ip_py(int(ip)) for ip in ips)


def ip_from_value_and_kind(value: float, pkind: str) -> int:
    """Scalar encode from (value, printable kind) — reference
    utils.py:79-108."""
    return encode_ip_from_user_py(value, pkind)


def get_grid_identifier(nomvar="nomvar", ip1="ip1", ip2="ip2",
                        ig1="ig1", ig2="ig2") -> Column:
    """Grid identifier expression from column names or Columns
    (reference std_dec.py ``get_grid_identifier``); prefer
    :func:`add_grid_column` for the DataFrame form."""
    def c(v):
        return v if isinstance(v, Column) else F.col(v)

    return grid_identifier(c(nomvar), c(ip1), c(ip2), c(ig1), c(ig2))


def kind_to_string(kind: "int | Column") -> Column:
    """kind -> printable suffix (reference std_dec.py)."""
    return kind_str(F.lit(kind) if isinstance(kind, int) else kind)


# --- unit.py ---------------------------------------------------------

def get_unit_by_name(name: str) -> dict:
    """One unit row from the dictionary (reference unit.py:307-323)."""
    return get_unit_row(name)


def unit_convert_array(arr, from_unit_name: str,
                       to_unit_name: str = "scalar") -> np.ndarray:
    """numpy array conversion (reference unit.py:230-256): identity when
    either side is 'scalar' or units match or families differ."""
    if from_unit_name == to_unit_name or "scalar" in (from_unit_name,
                                                      to_unit_name):
        return arr
    u_from, u_to = get_unit_row(from_unit_name), get_unit_row(to_unit_name)
    if u_from["expression"] != u_to["expression"]:
        return arr
    scale = u_from["factor"] / u_to["factor"]
    offset = (u_from["bias"] - u_to["bias"]) / u_to["factor"]
    return np.asarray(arr) * scale + offset


# --- grid / meta / xarray re-exports under reference names -----------

def get_lat_lon(df: DataFrame) -> DataFrame:
    """2-D latitude/longitude fields for every grid (reference
    std_grid.py ``get_lat_lon`` / dataframe_utils ``get_2d_lat_lon_df``)."""
    from fstd2pandas_spark.operators.grid import grid_lat_lon

    return grid_lat_lon(df)


get_2d_lat_lon_df = get_lat_lon


def get_df_from_grid(spark, grid_params: dict) -> DataFrame:
    """Axis records from grid parameters (reference std_grid.py:13-44)."""
    from fstd2pandas_spark.operators.grid import df_from_grid

    return df_from_grid(spark, grid_params)


def get_meta_fields_exists(df: DataFrame) -> DataFrame:
    """Per-grid meta-field presence flags (reference
    dataframe_utils.py:653-668)."""
    from fstd2pandas_spark.operators.vgrid import meta_fields_exists

    return meta_fields_exists(df)


meta_exists = get_meta_fields_exists


def to_cmc_xarray(df: DataFrame, attributes: bool = False):
    """Cube export (reference xarray_utils.py ``to_cmc_xarray``)."""
    from fstd2pandas_spark.operators.cube import to_xarray

    return to_xarray(df, attributes=attributes)


convert_to_cmc_xarray = to_cmc_xarray


# ===================================================================== #
# Reference-name completion sweep: every remaining public fstpy name.   #
# Each is a thin delegation to this engine's operators (dataframe ops   #
# stay distributed), a scalar mirror evaluated through the very same    #
# Column expressions (zero rule drift), or an honest raise where the    #
# concept (librmn file handles, dask internals) has no Spark analog.    #
# ===================================================================== #

import datetime as _dt
import glob as _glob
import os as _os

from fstd2pandas_spark.operators.select import (      # noqa: F401
    select_with_meta, select_meta, query_with_meta,
    process_hy as _process_hy_df,
    add_metadata_to_query_results as _attach_meta,
)
from fstd2pandas_spark.operators.metadata import (    # noqa: F401
    metadata_cleanup,
    _grid_deformation_fields, _group_profile, _grid_profile,
    _surface_fields, _hy_field, _toctoc_fields,
)
from fstd2pandas_spark.operators.stats import fststat, voir  # noqa: F401
from fstd2pandas_spark.operators.dedup import (        # noqa: F401
    drop_duplicates, kinds_and_ip1 as _kinds_and_ip1_df)
from fstd2pandas_spark.operators.units import unit_convert  # noqa: F401
from fstd2pandas_spark.operators.vgrid import (        # noqa: F401
    set_vertical_coordinate_type, toctoc_from_vgrid as _toctoc_from_vgrid)
from fstd2pandas_spark.operators.grid import (
    grid_lat_lon as _grid_lat_lon, df_from_grid as _df_from_grid)
from fstd2pandas_spark.operators.cube import to_xarray as _to_xarray
from fstd2pandas_spark.functions import codecs as _codecs
from fstd2pandas_spark.functions import encoders as _encoders
from fstd2pandas_spark.functions import meta as _meta
from fstd2pandas_spark import schema as _schema
from fstd2pandas_spark.lookups import thermo_df as _thermo_df


def _scalar_eval(*cols):
    """Evaluate Column expressions over one row via the active session:
    scalar compat helpers share the EXACT rules of the distributed path
    instead of a drift-prone Python re-implementation."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "scalar compat helpers need an active SparkSession "
            "(they evaluate the engine's own Column expressions)")
    return spark.range(1).select(*cols).first()


# ----------------------------------------------------- pipeline wrappers

def process_hy(hy_df, df=None):
    """std_reader.py process_hy(hy_df, df): single-arg form (this
    engine's native contract) also accepted."""
    if df is None:
        return _process_hy_df(hy_df)
    return _process_hy_df(df.unionByName(hy_df, allowMissingColumns=True))


def add_metadata_to_query_results(df, query_result_df, hy_df=None):
    """std_reader.py:239: re-attach the meta records of the full frame
    (plus an optional HY frame) to a query's result rows."""
    out = _attach_meta(query_result_df, select_meta(df))
    if hy_df is not None:
        out = out.unionByName(hy_df, allowMissingColumns=True)
    return out


def compute_stats(df):
    """dataframe_utils.py compute_stats: per-record min/max/mean/std +
    1-based argmin/argmax positions. Returns the frame (distributed)
    instead of printing driver-side."""
    return fststat(df)


# ----------------------------------------------------------- ips families

def get_kinds_and_ip1(df) -> dict:
    """dataframe_utils.py:186: {decoded kind: [distinct ip1, ...]}."""
    return {r.kind: list(r.ip1s)
            for r in _kinds_and_ip1_df(df).collect()}


def get_ips(df, sigma=False, hybrid=False, pressure=False) -> list:
    """dataframe_utils.py:200: distinct ip1s of the requested level
    families (sigma=kind1, hybrid=kind5, pressure=kind2)."""
    kinds = get_kinds_and_ip1(df)
    out = []
    if sigma:
        out.extend(kinds.get(1, []))
    if hybrid:
        out.extend(kinds.get(5, []))
    if pressure:
        out.extend(kinds.get(2, []))
    return out


def get_model_ips(df) -> list:
    return get_ips(df, sigma=True, hybrid=True)


def get_sigma_ips(df) -> list:
    return get_ips(df, sigma=True)


def get_hybrid_ips(df) -> list:
    return get_ips(df, hybrid=True)


def get_pressure_ips(df) -> list:
    return get_ips(df, pressure=True)


# ------------------------------------------------- metadata field pickers

def get_hy_field(df, hybrid_ips=None):
    """dataframe_utils.py:336: deduped HY rows, kept only when hybrid
    levels exist (profile-driven — no driver-side ip list needed, but
    an explicit empty list short-circuits like the reference)."""
    if hybrid_ips is not None and not list(hybrid_ips):
        return df.filter(F.lit(False))
    no_meta = df.filter(~F.col("nomvar").isin(*_schema.META_NOMVARS)
                        | F.col("nomvar").isNull())
    profile = _grid_profile(_group_profile(no_meta))
    return _hy_field(df, profile)


def _profile_of(no_meta_df):
    return _grid_profile(_group_profile(no_meta_df))


def get_p0_fields(df, no_meta_df, hybrid_ips=None, sigma_ips=None):
    """dataframe_utils.py get_p0_fields: P0 rows on hybrid/sigma family
    grids at the representative (ni, nj)."""
    return _surface_fields(df, _profile_of(no_meta_df), "P0", [5, 1])


def get_pt_fields(df, no_meta_df, sigma_ips=None):
    """dataframe_utils.py get_pt_fields: PT rows on sigma family grids."""
    return _surface_fields(df, _profile_of(no_meta_df), "PT", [1])


def get_toctoc_fields(df, no_meta_df, hybrid_ips=None, sigma_ips=None,
                      pressure_ips=None, strict=True):
    """dataframe_utils.py:233: ``!!`` rows whose grid carries the
    matching level family and whose ig1 is in that family's vcodes."""
    return _toctoc_fields(df, _profile_of(no_meta_df))


def get_grid_deformation_fields(df, no_meta_df):
    """dataframe_utils.py:339: >>/^^/^> per deformation group via the
    3-tier fallback join (J5)."""
    groups = _group_profile(no_meta_df)
    return _grid_deformation_fields(df, groups)


def get_grid_metadata_fields(df, latitude_and_longitude=True,
                             pressure=True, vertical_descriptors=True):
    """std_reader.py: the meta records of the requested families."""
    wanted = []
    if latitude_and_longitude:
        wanted += [">>", "^^", "^>", "LA", "LO"]
    if pressure:
        wanted += ["P0", "PT"]
    if vertical_descriptors:
        wanted += ["HY", "!!", "E1", "!!SF"]
    return df.filter(F.col("nomvar").isin(wanted))


def get_all_grid_metadata_fields_from_std_file(path, spark=None):
    """std_reader.py: read `path` and keep every meta-family record."""
    from fstd2pandas_spark.api import StandardFileReader

    return get_grid_metadata_fields(
        StandardFileReader(path, spark=spark).to_spark())


def get_specific_meta_field(df, col_subset, nomvar, grid, dateo, deet,
                            npas):
    """std_reader.py: one meta record by exact (nomvar, grid, dateo,
    deet, npas), projected to `col_subset`."""
    out = df.filter(
        (F.col("nomvar") == nomvar) & (F.col("grid") == grid)
        & (F.col("dateo") == dateo) & (F.col("deet") == deet)
        & (F.col("npas") == npas))
    return out.select(*col_subset) if col_subset else out


# -------------------------------------------------------------- grid family

def get_grid_definition_params(df) -> dict:
    """std_grid.py get_grid_definition_params: the (single) grid's
    definition as a dict; raises on an ambiguous multi-grid frame."""
    rows = (df.select("grtyp", "ni", "nj", "ig1", "ig2", "ig3", "ig4")
            .distinct().collect())
    if len(rows) != 1:
        raise ValueError(
            f"get_grid_definition_params: expected one grid, got {len(rows)}")
    return rows[0].asDict()


def get_2d_lat_lon_arr(grid_params: dict, spark=None):
    """std_grid.py get_2d_lat_lon_arr: [(lat 2-D array, lon 2-D array)]
    for a grid-params dict (axis-record grids), via the engine's LA/LO
    generation collected driver-side."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    g = grid_params
    base = _df_from_grid(spark, g)
    # grid_lat_lon emits LA/LO per DATA row on the grid — add a
    # template field row tied to the same grid id as the axis records
    tpl = create_empty_dataframe(
        spark, 1, nomvar="XX", grtyp=g["grtyp"],
        ni=int(g["ni"]), nj=int(g["nj"]),
        ig1=int(g["ig1"]), ig2=int(g["ig2"]),
        grid=f"{int(g['ig1'])}{int(g['ig2'])}",
        d=[0.0] * (int(g["ni"]) * int(g["nj"])))
    out = _grid_lat_lon(base.unionByName(
        tpl.select(base.columns), allowMissingColumns=True))
    rows = {r.nomvar: r for r in out.collect()}
    la, lo = rows["LA"], rows["LO"]
    lat = np.asarray(la.d, dtype=np.float64).reshape(la.nj, la.ni)
    lon = np.asarray(lo.d, dtype=np.float64).reshape(lo.nj, lo.ni)
    return [(lat, lon)]


def get_subgrids(grid_params: dict) -> list:
    """std_grid.py get_subgrids: split a U composite's ``^>`` payload
    into its two subgrid definitions (engine ``^>`` convention:
    [nsub, ni1, nj1, ni2, nj2, ax1, ay1, ax2, ay2])."""
    if grid_params.get("grtyp") != "U":
        raise ValueError("get_subgrids: not a 'U' composite grid")
    axy = np.asarray(grid_params["ax"], dtype=np.float64)
    nsub = int(axy[0])
    if nsub != 2:
        raise ValueError(f"get_subgrids: expected 2 subgrids, got {nsub}")
    ni1, nj1, ni2, nj2 = (int(v) for v in axy[1:5])
    p = 5
    subs = []
    for ni, nj in ((ni1, nj1), (ni2, nj2)):
        ax = axy[p:p + ni]
        ay = axy[p + ni:p + ni + nj]
        p += ni + nj
        subs.append(dict(grtyp="Z", grref="L", ni=ni, nj=nj,
                         ax=ax, ay=ay))
    return subs


def is_global_grid(grid_params: dict, lon: np.ndarray,
                   epsilon: float = 0.001):
    """std_grid.py is_global_grid(grid_params, lon): (global, repeated)
    from a longitude row — scalar mirror of operators/grid.py's
    Column rules (C23 epsilon discipline)."""
    import math as _math

    grtyp = grid_params.get("grtyp")
    if grtyp in ("A", "G"):
        return True, False
    if grtyp == "B":
        return True, True
    row = np.asarray(lon, dtype=np.float64).reshape(-1)
    if row.size < 2:
        return False, False
    if grtyp == "Z":
        # first longitude equals the last (std_grid.py:240-244) — NOT
        # span == 360, which missed a 0-based repeated meridian and
        # falsely flagged a [0..360] non-repeating axis (round-15
        # review: the scalar had drifted from the Column rule the
        # fst_latlon_all gate verifies)
        rep = abs(float(row[0]) - float(row[-1])) <= epsilon
        return rep, rep
    if grtyp == "L":
        dlon = float(grid_params.get("dlon", row[1] - row[0]))
        ni = int(grid_params.get("ni", row.size))
        last = float(row[-1])
        nb = ni * dlon
        if _math.fmod(360.0, dlon) != 0:
            # non-exact dlon (std_grid.py:247-258): case 2 (wraps but
            # the repeated point's longitude differs -> repetition
            # only) before case 3 (wraps, last strictly below 360 ->
            # global) — the Column rule in operators/grid.py verbatim
            if nb >= 360.0 - epsilon and \
                    last <= (nb + dlon) - 360.0 + epsilon:
                return False, True
            if nb >= 360.0 - epsilon and last < 360.0 \
                    and abs(last - 360.0) > epsilon:
                return True, False
            return False, False
        if abs(nb - 360.0) <= epsilon:
            return True, False
        if abs(nb - (360.0 + dlon)) <= epsilon:
            return True, True
        return False, False
    return False, False


# -------------------------------------------------- scalar decode helpers

def get_parsed_etiket(raw_etiket: str) -> tuple:
    """std_dec.py get_parsed_etiket -> (label, run, implementation,
    ensemble_member), via the engine's own parse expression."""
    r = _scalar_eval(_meta.parsed_etiket(F.lit(raw_etiket)).alias("et"))
    et = r.et
    return (et.label, et.run, et.implementation, et.ensemble_member)


def parse_typvar(typvar: str) -> tuple:
    """std_dec.py parse_typvar: the 8 modifier flags of typvar[1]."""
    r = _scalar_eval(*_meta.typvar_flags(F.lit(typvar)))
    return tuple(r)


def get_ip_info(nomvar: str, ip1: int, ip2: int, ip3: int):
    """std_dec.py get_ip_info: decoded (dec, kind, pkind) for the three
    ips plus surface/follow-topography/ascending and the interval."""
    k1 = _codecs.decode_ip_kind(F.lit(ip1))
    v1 = _codecs.decode_ip_value(F.lit(ip1))
    k2 = _codecs.decode_ip_kind(F.lit(ip2))
    v2 = _codecs.decode_ip_value(F.lit(ip2))
    k3 = _codecs.decode_ip_kind(F.lit(ip3))
    v3 = _codecs.decode_ip_value(F.lit(ip3))
    r = _scalar_eval(
        v1.alias("l"), k1.alias("k1"), _meta.kind_str(k1).alias("p1"),
        v2.alias("d2"), k2.alias("k2"), _meta.kind_str(k2).alias("p2"),
        v3.alias("d3"), k3.alias("k3"), _meta.kind_str(k3).alias("p3"),
        _meta.is_surface(k1, v1).alias("surf"),
        _meta.follows_topography(k1).alias("follow"),
        _meta.level_ascending(k1).alias("asc"),
        _meta.interval_struct(F.lit(nomvar), F.lit(ip1), F.lit(ip2),
                              F.lit(ip3)).alias("interval"),
    )
    return r


def get_interval(ip1: int, ip2: int, ip3: int, i1=None, i2=None, i3=None,
                 nomvar: str = ""):
    """std_dec.py get_interval: struct(ip, low, high, kind) or None."""
    r = _scalar_eval(_meta.interval_struct(
        F.lit(nomvar), F.lit(ip1), F.lit(ip2), F.lit(ip3)).alias("iv"))
    return r.iv


def is_surface(ip1_kind: int, level: float) -> bool:
    """std_dec.py is_surface via the engine's Column rule."""
    return bool(_scalar_eval(_meta.is_surface(
        F.lit(ip1_kind), F.lit(float(level))).alias("s")).s)


def level_type_follows_topography(ip1_kind: int) -> bool:
    return bool(_scalar_eval(_meta.follows_topography(
        F.lit(ip1_kind)).alias("f")).f)


def get_level_sort_order(kind: int) -> bool:
    """std_dec.py get_level_sort_order: True = ascending."""
    return bool(_scalar_eval(_meta.level_ascending(
        F.lit(kind)).alias("a")).a)


def get_data_type_str(datyp: int) -> str:
    return _schema.DATYP_DICT.get(int(datyp), "X")


def get_field_dtype(datyp: int, nbits: int):
    """std_io.py get_field_dtype: numpy dtype for a (datyp, nbits)
    transparent layout (packed datyps are self-describing streams)."""
    from fstd2pandas_spark.sources.xdf_format import payload_dtype

    return np.dtype(payload_dtype(int(datyp), int(nbits)))


def get_forecast_hour(deet: int, npas: int) -> _dt.timedelta:
    """std_dec.py get_forecast_hour: deet * npas seconds."""
    return _dt.timedelta(seconds=int(deet) * int(npas))


def convert_date_to_timezone(date: _dt.datetime,
                             timezone: str) -> _dt.datetime:
    """utils convert_date_to_timezone via zoneinfo (UTC source)."""
    from zoneinfo import ZoneInfo

    return date.replace(tzinfo=_dt.timezone.utc) \
        .astimezone(ZoneInfo(timezone)).replace(tzinfo=None)


def add_timezone_column(df, source_column: str, timezone: str):
    """std_dec.py add_timezone_column: source timestamps shifted into
    `timezone` as a new column."""
    return df.withColumn(
        f"{source_column}_{timezone.split('/')[-1].lower()}",
        _encoders.to_timezone(F.col(source_column), timezone))


# -------------------------------------------------- scalar encode helpers

def create_encoded_dateo(date_of_observation: _dt.datetime) -> int:
    return _codecs.datetime_to_stamp_py(date_of_observation)


def create_encoded_datyp(data_type_str: str) -> int:
    inv = {v: k for k, v in _schema.DATYP_DICT.items()}
    if data_type_str not in inv:
        raise ValueError(f"unknown data_type_str {data_type_str!r}")
    return inv[data_type_str]


def create_encoded_etiket(label: str, run: str, implementation: str,
                          ensemble_member: str) -> str:
    r = _scalar_eval(_encoders.encoded_etiket(
        F.lit(label), F.lit(run), F.lit(implementation),
        F.lit(ensemble_member)).alias("e"))
    return r.e


def create_encoded_ip1(level: float, ip1_kind: int, mode: int = 2) -> int:
    return _codecs.encode_ip_py(float(level), int(ip1_kind))


def create_encoded_ip2(level: float, ip2_kind: int) -> int:
    return _codecs.encode_ip_py(float(level), int(ip2_kind))


def create_encoded_ips(level: float, ip1_kind: int, ip2_dec: float,
                       ip2_kind: int, ip3_dec: float,
                       ip3_kind: int) -> tuple:
    return (create_encoded_ip1(level, ip1_kind),
            _codecs.encode_ip_py(float(ip2_dec), int(ip2_kind)),
            _codecs.encode_ip_py(float(ip3_dec), int(ip3_kind)))


def create_encoded_npas_and_ip2(forecast_hour: _dt.timedelta,
                                deet: int) -> tuple:
    """std_enc.py: npas from the forecast length and deet; ip2 in whole
    hours."""
    seconds = int(forecast_hour.total_seconds())
    npas = seconds // int(deet) if deet else 0
    return npas, seconds // 3600


def modifiers_to_typvar2(zapped=False, filtered=False, interpolated=False,
                         unit_converted=False, bounded=False,
                         ensemble_extra_info=False,
                         multiple_modifications=False) -> str:
    r = _scalar_eval(_encoders.modifiers_to_typvar2(
        F.lit(zapped), F.lit(filtered), F.lit(interpolated),
        F.lit(unit_converted), F.lit(bounded),
        F.lit(ensemble_extra_info),
        F.lit(multiple_modifications)).alias("t"))
    return r.t


def encode_ip2_and_ip3_as_time_interval(df):
    """std_enc.py: interval-encode (ip2, ip3) from the decoded hour
    columns (ip2_dec, ip3_dec)."""
    pair = _encoders.encoded_time_interval_ips(
        F.col("ip2_dec"), F.col("ip3_dec"))
    return (df.withColumn("_iv", pair)
            .withColumn("ip2", F.col("_iv.ip2"))
            .withColumn("ip3", F.col("_iv.ip3")).drop("_iv"))


# --------------------------------------------------------- lookup helpers

def get_unit_and_description(nomvar: str) -> tuple:
    """std_dec.py get_unit_and_description via the STDVAR table."""
    row = (stdvar_df().filter(F.col("nomvar") == nomvar)
           .select("unit", "description_en").first())
    return (row.unit, row.description_en) if row else ("scalar", "")


def get_constant_by_name(name: str) -> dict:
    """constants lookup: one THERMO_CONSTANTS row as a dict."""
    row = _thermo_df().filter(F.col("name") == name).first()
    if row is None:
        raise KeyError(name)
    return row.asDict()


def get_constant_row_by_name(df, df_name: str, index: str,
                             name: str) -> dict:
    """utils.py get_constant_row_by_name: generic one-row lookup."""
    row = df.filter(F.col(index) == name).first()
    if row is None:
        raise KeyError(f"{df_name}: no row with {index} == {name!r}")
    return row.asDict()


def get_converter(unit_from: str, unit_to: str, std: bool = False):
    """unit.py get_converter: a callable scaling numpy arrays."""
    return lambda arr: unit_convert_array(arr, unit_from, unit_to)


def get_temperature_converter(unit_from: str, unit_to: str):
    return get_converter(unit_from, unit_to)


#: std_reader.py column_descriptions (reference __init__.py BASE_COLUMN
#: descriptions, re-worded for this engine's record table)
_COLUMN_DESCRIPTIONS = {
    "nomvar": "variable name (2-4 chars)",
    "typvar": "type of field (forecast, analysis, ...) + modifier flag",
    "etiket": "label (run, label, implementation, ensemble member)",
    "ni": "first dimension of the data field",
    "nj": "second dimension of the data field",
    "nk": "third dimension of the data field",
    "dateo": "date of observation (RMN date stamp)",
    "datev": "date of validity (RMN date stamp)",
    "ip1": "encoded vertical level",
    "ip2": "encoded forecast hour (or user defined)",
    "ip3": "user defined identifier / interval end",
    "deet": "length of a time step in seconds",
    "npas": "time step number",
    "datyp": "data type of the elements",
    "nbits": "number of bits kept for each element",
    "grtyp": "grid type (one char)",
    "ig1": "first grid descriptor",
    "ig2": "second grid descriptor",
    "ig3": "third grid descriptor",
    "ig4": "fourth grid descriptor",
    "grid": "grid identifier (ip1+ip2 for meta, ig1+ig2 for fields)",
    "d": "the data field (flattened row-major array)",
    "path": "source file path",
    "key": "record key/handle inside the source file",
}


def column_descriptions() -> dict:
    """std_reader.py column_descriptions: record-table column -> text."""
    return dict(_COLUMN_DESCRIPTIONS)


# ----------------------------------------------------- xarray-side helpers


def vertical_coord_to_dict(vcoord) -> dict:
    """std_vgrid.py vertical_coord_to_dict: a vertical-coordinate
    object's public attributes as a dict."""
    if isinstance(vcoord, dict):
        return dict(vcoord)
    return {k: v for k, v in vars(vcoord).items()
            if not k.startswith("_")}


def get_df_from_vgrid(vgrid_descriptor, ip1: int, ip2: int, spark=None):
    """std_vgrid.py get_df_from_vgrid: the one-row ``!!`` record for a
    vgrid descriptor (dict with kind, version, vtbl)."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    d = (vgrid_descriptor if isinstance(vgrid_descriptor, dict)
         else vars(vgrid_descriptor))
    return _toctoc_from_vgrid(spark, int(d["kind"]), int(d["version"]),
                              d["vtbl"], int(ip1), int(ip2))


def get_vertical_coord(file_df, meta_df, df):
    """std_vgrid.py get_vertical_coord returns a vcode-specific object;
    this engine dispatches inside quick_pressure instead. Returns the
    group's classified vctype string (the dispatch key)."""
    out = set_vertical_coordinate_type(df)
    vals = [r.vctype for r in out.select("vctype").distinct().collect()]
    return vals[0] if len(vals) == 1 else vals


def set_attrib(nomvar_df, attribs: dict, key: str) -> dict:
    """std_xarray.py set_attrib: first non-null value of `key` into the
    attribute dict (pandas input, driver-side)."""
    vals = [v for v in nomvar_df[key].tolist() if v is not None] \
        if key in nomvar_df else []
    if vals:
        attribs[key] = vals[0]
    return attribs


def set_data_array_attributes(attribs: dict, nomvar_df) -> dict:
    """std_xarray.py: unit/description/etiket attrs from the rows."""
    for key in ("unit", "description", "etiket"):
        attribs = set_attrib(nomvar_df, attribs, key)
    return attribs


def get_latitude_data_array(lat_lon_df, lat_name: str, shape=None):
    """std_xarray.py: the latitude field as a 2-D numpy array (pandas
    lat/lon frame, driver-side)."""
    row = lat_lon_df.loc[lat_lon_df.nomvar == lat_name].iloc[0]
    arr = np.asarray(row.d, dtype=np.float64)
    return arr.reshape(shape if shape is not None else (row.nj, row.ni))


def get_longitude_data_array(lat_lon_df, lon_name: str, shape=None):
    row = lat_lon_df.loc[lat_lon_df.nomvar == lon_name].iloc[0]
    arr = np.asarray(row.d, dtype=np.float64)
    return arr.reshape(shape if shape is not None else (row.nj, row.ni))


def get_level_data_array(df, level_name: str = "level",
                         ascending: bool = True):
    """std_xarray.py: sorted distinct levels (pandas frame)."""
    levels = sorted(set(df[level_name].tolist()), reverse=not ascending)
    return np.asarray(levels, dtype=np.float64)


def get_date_of_validity_data_array(df, date_of_validity_name: str):
    return np.asarray(sorted(set(df[date_of_validity_name].tolist())))


def get_variable_data_array(df, name, attribs, dim, dim_name, latitudes,
                            lat_name, longitudes, lon_name,
                            timeseries=False):
    """std_xarray.py: build one variable's DataArray from stacked
    per-level rows (driver-side; prefer to_cmc_xarray for whole frames)."""
    import xarray as xr

    rows = df.loc[df.nomvar == name]
    ni, nj = int(rows.iloc[0].ni), int(rows.iloc[0].nj)
    data = np.stack([np.asarray(r.d, dtype=np.float64).reshape(nj, ni)
                     for r in rows.itertuples()])
    return xr.DataArray(
        data, dims=[dim_name, lat_name, lon_name],
        coords={dim_name: dim, lat_name: latitudes[:, 0],
                lon_name: longitudes[0, :]},
        name=name, attrs=attribs)


# ------------------------------------------------------------ file helpers

def get_file_list(pattern: str) -> list:
    """utils.py get_file_list: sorted glob expansion."""
    return sorted(_glob.glob(pattern))


def get_file_modification_time(path: str, *args, **kwargs):
    """std_io.py get_file_modification_time as a datetime."""
    return _dt.datetime.fromtimestamp(_os.path.getmtime(path))


def delete_file(my_file: str) -> None:
    if _os.path.exists(my_file):
        _os.unlink(my_file)


def maybeFST(filename) -> bool:
    """std_io.py:136 magic sniff: XDF standard files and this engine's
    portable fstrec container both count; a directory written by the
    distributed writer counts when any file inside sniffs true."""
    from fstd2pandas_spark.sources.fstrec_format import maybe_fstrec
    from fstd2pandas_spark.sources.xdf_format import maybe_xdf

    path = str(filename)
    if _os.path.isdir(path):
        return any(maybeFST(_os.path.join(path, f))
                   for f in sorted(_os.listdir(path)))
    if not _os.path.isfile(path):
        return False
    return maybe_xdf(path) or maybe_fstrec(path)


def identical_destination_and_record_path(record_path: str,
                                          filename: str) -> bool:
    """std_writer.py: would this write read and write the same file?"""
    return _os.path.realpath(str(record_path)) == \
        _os.path.realpath(str(filename))


def open_fst(path: str, mode: str, caller_class: str, error_class=None):
    """librmn handle-based open has no Spark analog: reads go through
    StandardFileReader (scans are planned per file by the data source,
    not through a shared handle)."""
    raise NotImplementedError(
        "open_fst: no librmn file handles in this engine; use "
        "fstd2pandas_spark.api.StandardFileReader")


def close_fst(file_id, path: str, caller_class: str):
    raise NotImplementedError(
        "close_fst: no librmn file handles in this engine")


def get_basic_dataframe(path: str, spark=None):
    """std_io.py get_basic_dataframe: the undecoded record table."""
    from fstd2pandas_spark.api import StandardFileReader

    return StandardFileReader(path, decode_metadata=False,
                              spark=spark).to_spark()


def get_dataframe_from_file(path: str, query: str = None, spark=None):
    """std_io.py get_dataframe_from_file: record table + optional
    metadata query (pushed down to the header directory)."""
    from fstd2pandas_spark.api import StandardFileReader

    return StandardFileReader(path, query=query, spark=spark).to_spark()


def parallel_get_dataframe_from_file(files, get_records_func=None,
                                     n_cores=None, spark=None):
    """std_io.py parallel read: Spark parallelizes the scan per file —
    the pool arguments are accepted for signature parity and ignored."""
    from fstd2pandas_spark.api import StandardFileReader

    return StandardFileReader(list(files), spark=spark).to_spark()


def get_data(path: str, key: int, cache=None):
    """std_io.py get_data: one record's payload by (path, key). `path`
    is normally the record row's own ``path`` column (a concrete file);
    a writer-output directory is searched header-only."""
    from fstd2pandas_spark.sources import fstrec_format as FR
    from fstd2pandas_spark.sources import xdf_format as XF

    if _os.path.isdir(path):
        for f in sorted(_os.listdir(path)):
            full = _os.path.join(path, f)
            if maybeFST(full):
                try:
                    return get_data(full, key)
                except KeyError:
                    continue
        raise KeyError(f"key {key} not found under {path}")
    # record keys are 1-based directory positions (the data source's
    # convention, fst_datasource.FstRecReader.read)
    if FR.maybe_fstrec(path):
        headers = FR.read_directory(path)
        if not 1 <= int(key) <= len(headers):
            raise KeyError(f"key {key} not in {path}")
        with open(path, "rb") as f:
            return FR.read_payload(f, headers[int(key) - 1])
    headers = XF.read_xdf_directory(path)
    if not 1 <= int(key) <= len(headers):
        raise KeyError(f"key {key} not in {path}")
    with open(path, "rb") as f:
        return XF.read_xdf_payload(f, headers[int(key) - 1])


def get_path_and_key_from_array(darr):
    raise NotImplementedError(
        "get_path_and_key_from_array: data is a Spark array column, "
        "not a dask graph; read path/key from the record columns")


def add_path_and_key_columns(df):
    """std_io.py: path/key come from the data source on read; for
    frames built elsewhere, add NULL placeholders."""
    out = df
    if "path" not in out.columns:
        out = out.withColumn("path", F.lit(None).cast("string"))
    if "key" not in out.columns:
        out = out.withColumn("key", F.lit(None).cast("long"))
    return out


def add_dask_column(df):
    """std_io.py add_dask_column: the `d` column is a real (lazily
    scanned) Spark column — nothing to add."""
    return df


def compute(df, remove_path_and_key: bool = True):
    """std_reader.py compute: materialize driver-side (reference
    semantics: dask arrays -> numpy). Collects — size accordingly."""
    out = df.drop("path", "key") if remove_path_and_key else df
    return out.toPandas()


def to_numpy(arr) -> np.ndarray:
    return np.asarray(arr)


def to_dask(arr):
    raise NotImplementedError(
        "to_dask: this engine distributes via Spark partitions, "
        "not dask graphs")


def get_num_rows_for_reading(df) -> int:
    """utils.py: the reference's write-chunk size (env FSTPY_NUM_ROWS,
    default 128); partition sizing handles this on the Spark side."""
    return int(_os.environ.get("FSTPY_NUM_ROWS", 128))


def set_rewrite(df) -> bool:
    """std_writer.py set_rewrite: False (rewrite deactivated) when the
    frame carries duplicate (nomvar, typvar, etiket, ip1, ip2, ip3)."""
    keys = ["nomvar", "typvar", "etiket", "ip1", "ip2", "ip3"]
    total = df.count()
    distinct = df.select(*keys).distinct().count()
    if total != distinct:
        logging.warning(
            "StandardFileWriter - duplicates found, activating rewrite")
        return False
    return True


def write_dataframe_record_to_file(path: str, df, mode: str = "write",
                                   **kwargs) -> None:
    """std_writer.py: write the record frame to `path`."""
    from fstd2pandas_spark.api import StandardFileWriter

    StandardFileWriter(path, df, mode=mode, **kwargs).to_fst()


# ------------------------------------------------------------------ misc

def remove_keys(a_dict: dict, keys) -> dict:
    return {k: v for k, v in a_dict.items() if k not in set(keys)}


def get_column_value_from_row(row, column):
    return row[column].values[0]


def vectorize(f, otypes=None):
    """utils.py vectorize (memoizing np.vectorize): driver-side only —
    the distributed path uses native Column expressions (PARITY §2.8
    C21), so no memoization is needed there."""
    return np.vectorize(f, otypes=otypes)


def initializer(func):
    """utils.py initializer: auto-assign constructor args to self."""
    import functools
    import inspect

    sig = inspect.signature(func)

    @functools.wraps(func)
    def wrapper(self, *args, **kwargs):
        bound = sig.bind(self, *args, **kwargs)
        bound.apply_defaults()
        for name, value in list(bound.arguments.items())[1:]:
            setattr(self, name, value)
        return func(self, *args, **kwargs)

    return wrapper


def setup_fstpy_logger() -> None:
    """logger config parity: console handler on this engine's logger."""
    logger = logging.getLogger("fstd2pandas_spark")
    if not logger.handlers:
        handler = logging.StreamHandler()
        handler.setFormatter(logging.Formatter(
            "%(asctime)s %(levelname)s %(message)s"))
        logger.addHandler(handler)
    logger.setLevel(logging.INFO)


def _log_level_setter(level):
    def set_level():
        logging.getLogger("fstd2pandas_spark").setLevel(level)
    return set_level


fstpy_log_level_debug = _log_level_setter(logging.DEBUG)
fstpy_log_level_info = _log_level_setter(logging.INFO)
fstpy_log_level_warning = _log_level_setter(logging.WARNING)
fstpy_log_level_error = _log_level_setter(logging.ERROR)
fstpy_log_level_fatal = _log_level_setter(logging.CRITICAL)
fstpy_log_level_catast = _log_level_setter(logging.CRITICAL)
