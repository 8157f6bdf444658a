"""Round-19 robustness guards on the fused-SQL fast paths.

The r18/r19 driver-latency work replaced Column-DSL chains with SQL
text; these pins keep the text paths honest about the inputs the DSL
paths used to validate or accept for free:

- interpolated column names are backtick-quoted (``sql_ident``) so
  names with spaces/hyphens keep working and an expression-valued
  "name" is never executed as SQL;
- ``lsh_candidate_pairs`` validates ``num_hashes`` (the fused form
  shares ``minhash_signature``'s signature helper and its check);
- ``array_stats_columns``' Column back-compat path accepts ONLY bare
  identifiers and raises instead of silently re-parsing an expression;
  a plain-string name that is not a bare identifier is quoted;
- the entry module's schema cache keys on the file mtime so a
  regenerated dataset re-infers instead of reading a stale schema.
"""

import pytest
from pyspark.sql import functions as F

from fstd2pandas_spark.operators.llm.text import sql_ident


def test_sql_ident_quotes_and_escapes():
    assert sql_ident("plain") == "`plain`"
    assert sql_ident("has space") == "`has space`"
    assert sql_ident("semi-colon") == "`semi-colon`"
    assert sql_ident("tick`inside") == "`tick``inside`"


def test_lsh_num_hashes_range_validated(spark):
    from fstd2pandas_spark.operators.llm.dedup import (
        MINHASH_AS, lsh_candidate_pairs)

    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_hashes must be in 1"):
        lsh_candidate_pairs(df, num_hashes=0, bands=1)
    with pytest.raises(ValueError, match="num_hashes must be in 1"):
        lsh_candidate_pairs(df, num_hashes=len(MINHASH_AS) + 1,
                            bands=1)


def test_fused_sql_accepts_odd_column_names(spark):
    """Names legal to the old F.col() paths stay legal in the fused
    SQL: hyphens/spaces must parse as identifiers, not expressions."""
    from fstd2pandas_spark.operators.llm.dedup import (
        lsh_candidate_pairs, simhash_report_rows)
    from fstd2pandas_spark.operators.llm.similarity import cosine_topk

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "something else entirely here")],
        "`doc-id` long, `the text` string")
    pairs = lsh_candidate_pairs(docs, text_col="the text",
                                id_col="doc-id", num_hashes=4,
                                bands=2).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(0, 1)}
    rows = simhash_report_rows(docs, text_col="the text",
                               id_col="doc-id", max_hamming=3)
    assert rows.filter("kind = 'pair'").count() >= 1

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "`emb id` long, `the vec` array<double>")
    top = cosine_topk(emb, k=1, vec_col="the vec", id_col="emb id",
                      n_queries=1).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in top] == [(0, 1)]


def test_array_stats_columns_rejects_expressions(spark):
    from fstd2pandas_spark.operators.stats import array_stats_columns

    # bare names (str or Column) stay accepted
    assert len(array_stats_columns("d", "ni")) == 6
    assert len(array_stats_columns(F.col("d"), F.col("ni"))) == 6
    # a composite expression would be silently re-parsed as SQL — reject
    with pytest.raises(TypeError, match="bare column identifier"):
        array_stats_columns(F.col("d") + 1, "ni")
    # a string that is not a bare name is quoted: it can only name a
    # column (here a missing one), never run as SQL text
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame([([1.0, 2.0], 1)], "d array<float>, ni int")
    with pytest.raises(AnalysisException, match="d; drop table x"):
        df.select(*array_stats_columns("d; drop table x", "ni")).collect()


def test_array_stats_columns_quotes_plain_string_names(spark):
    """Legal names that need quoting (``my d``) work as plain strings
    and give the bare-name result on the renamed frame."""
    from fstd2pandas_spark.operators.stats import array_stats_columns

    df = spark.createDataFrame(
        [([1.0, float("nan"), 0.5, 2.0], 2), ([3.0, 1.0, 2.0, 1.0], 2),
         ([4.0], 1)], "d array<float>, ni int")
    bare = df.select(*array_stats_columns("d", "ni")).collect()
    renamed = df.withColumnRenamed("d", "my d") \
        .withColumnRenamed("ni", "my ni")
    quoted = renamed.select(*array_stats_columns("my d", "my ni")).collect()
    # repr: the NaN row must compare equal too
    assert repr(quoted) == repr(bare)


def test_schema_cache_keys_on_mtime(tmp_path, spark):
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    p = tmp_path / "widgets.parquet"
    spark.createDataFrame([(1,)], "a long").write.parquet(str(p))
    df1 = e._load(spark, str(tmp_path), "widgets")
    assert df1.schema.fieldNames() == ["a"]
    # regenerate with a DIFFERENT schema at the same path: the cache
    # must re-infer, not serve the stale schema (which would silently
    # null out the renamed column)
    import shutil
    shutil.rmtree(p)
    spark.createDataFrame([(1, 2)], "b long, c long").write.parquet(str(p))
    os.utime(p, ns=(os.stat(p).st_mtime_ns + 10**9,) * 2)
    df2 = e._load(spark, str(tmp_path), "widgets")
    assert df2.schema.fieldNames() == ["b", "c"]


def test_schema_cache_rereads_a_part_file_rewritten_in_place(tmp_path, spark):
    """A part file rewritten in place, under an unchanged directory
    mtime, re-infers; the cache keeps one entry per path."""
    import os
    import shutil

    import __spark_entry__ as e

    p = tmp_path / "gadgets.parquet"
    spark.createDataFrame([(1,)], "a long").coalesce(1).write.parquet(str(p))
    df1 = e._load(spark, str(tmp_path), "gadgets")
    assert df1.schema.fieldNames() == ["a"]

    other = tmp_path / "other.parquet"
    spark.createDataFrame([(1, 2)], "b long, c long").coalesce(1) \
        .write.parquet(str(other))
    [part] = [f for f in os.listdir(p) if f.endswith(".parquet")]
    [new] = [f for f in os.listdir(other) if f.endswith(".parquet")]
    dir_times = os.stat(p).st_atime_ns, os.stat(p).st_mtime_ns
    shutil.copyfile(other / new, p / part)
    shutil.copyfile(other / f".{new}.crc", p / f".{part}.crc")
    os.utime(p, ns=dir_times)
    df2 = e._load(spark, str(tmp_path), "gadgets")
    assert df2.schema.fieldNames() == ["b", "c"]
    assert sorted(df2.collect()) == [(1, 2)]
    assert [k for k in e._SCHEMA_CACHE if str(p) in str(k)] == [str(p)]
