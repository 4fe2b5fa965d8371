"""Write-path job budgets and the counts they return.

Engine writes take their command-tag counts from work they already do:
INSERT/COPY from the footers of the files just written, DELETE/UPDATE/
MERGE from one grouped scan that also finds the touched files. The job
budgets below are counted with SparkContext.statusTracker() per job
group, a deterministic counter (no wall clock involved)."""

from __future__ import annotations

import uuid

import pytest

from kuibadb_spark.engine import Engine
from kuibadb_spark.plans import manifest as mf


def _jobs(spark, fn):
    """(fn's result, Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"write-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _version(engine, name):
    return mf.read_manifest(engine._table_dir(name))["version"]


def _text(tmp_path, name, n):
    p = tmp_path / name
    p.write_text("".join(f"{i}|s{i}\n" for i in range(n)))
    return str(p)


@pytest.fixture()
def loaded(engine, tmp_path):
    engine.create_table("t", "a BIGINT, b STRING")
    assert engine.copy_from("t", _text(tmp_path, "seed.txt", 100),
                            delimiter="|") == 100
    return engine


# -- job budgets ------------------------------------------------------------


def test_insert_is_one_job(loaded, spark):
    df = spark.createDataFrame([(1000 + i, "y") for i in range(10)],
                               "a BIGINT, b STRING")
    assert _jobs(spark, lambda: loaded.insert("t", df)) == (10, 1)


def test_copy_from_small_file_budget(loaded, spark, tmp_path):
    path = _text(tmp_path, "more.txt", 50)
    n, jobs = _jobs(spark, lambda: loaded.copy_from("t", path, delimiter="|"))
    assert n == 50
    assert jobs <= 3


def test_delete_and_update_budget(loaded, spark):
    n, jobs = _jobs(spark, lambda: loaded.update("t", {"b": "'u'"}, "a < 5"))
    assert n == 5
    assert jobs <= 3
    n, jobs = _jobs(spark, lambda: loaded.delete("t", "a < 3"))
    assert n == 3
    assert jobs <= 3
    assert loaded.table("t").count() == 97


def test_merge_budget(loaded, spark):
    src = spark.sql("SELECT * FROM VALUES (5, 'm'), (7, 'm'), (99999, 'n')"
                    " AS s(a, b)")
    counts, jobs = _jobs(spark, lambda: loaded.merge("t", src, ["a"]))
    assert counts == (2, 1)
    assert jobs <= 10
    assert loaded.table("t").count() == 101


def test_command_tags_collect_without_jobs(loaded, spark):
    e = loaded
    e.create_materialized_view("mv", "SELECT count(*) AS n FROM t")
    statements = [
        "INSERT INTO t VALUES (5000, 'q')",
        "DELETE FROM t WHERE a = 8",
        "UPDATE t SET b = 'w' WHERE a = 9",
        "MERGE INTO t USING (SELECT 9 AS a, 'm' AS b) s ON (a)"
        " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "REFRESH MATERIALIZED VIEW mv",
        "OPTIMIZE t",
        "VACUUM t",
        "ANALYZE t",
        "DESCRIBE t",
        "SHOW TABLES",
    ]
    for stmt in statements:
        df = e.sql(stmt)
        rows, jobs = _jobs(spark, df.collect)
        assert len(rows) >= 1, stmt
        assert jobs == 0, stmt


def test_command_tag_types_unchanged(loaded):
    e = loaded
    assert e.sql("DELETE FROM t WHERE a = 1").schema.simpleString() \
        == "struct<count:bigint>"
    row = e.sql("MERGE INTO t USING (SELECT 2 AS a, 'm' AS b) s ON (a)"
                " WHEN MATCHED THEN UPDATE SET *").collect()[0]
    assert (row.updated, row.inserted) == (1, 0)
    assert all(f.nullable for f in e.sql("VACUUM t").schema.fields)


def test_sql_transaction_budget(loaded, spark):
    e = loaded

    def txn():
        e.sql("BEGIN")
        ins = e.sql("INSERT INTO t VALUES (5000, 'q')").collect()[0][0]
        dele = e.sql("DELETE FROM t WHERE a = 8").collect()[0][0]
        e.sql("COMMIT")
        return ins, dele

    assert _jobs(spark, txn) == ((1, 1), 4)
    assert e.table("t").count() == 100


# -- counts from footers and the grouped scan ---------------------------------


def _nullable_table(engine, spark):
    engine.create_table("n", "a INT, b STRING")
    engine.insert("n", spark.createDataFrame(
        [(1, "x"), (None, "y"), (3, "z")], "a INT, b STRING"))


def test_delete_null_predicate_counts_true_rows_only(engine, spark):
    _nullable_table(engine, spark)
    assert engine.delete("n", "a > 1") == 1
    rows = {tuple(r) for r in engine.table("n").collect()}
    assert rows == {(1, "x"), (None, "y")}


def test_update_null_predicate_counts_true_rows_only(engine, spark):
    _nullable_table(engine, spark)
    assert engine.update("n", {"b": "'u'"}, "a < 3") == 1
    rows = {tuple(r) for r in engine.table("n").collect()}
    assert rows == {(1, "u"), (None, "y"), (3, "z")}


def test_zone_map_ruled_out_write_is_a_no_op(loaded, spark):
    v = _version(loaded, "t")
    assert _jobs(spark, lambda: loaded.delete("t", "a > 1000")) == (0, 0)
    assert _jobs(spark, lambda: loaded.update(
        "t", {"b": "'u'"}, "a BETWEEN 500 AND 600")) == (0, 0)
    assert _version(loaded, "t") == v
    assert loaded.table("t").count() == 100


def test_zone_map_pruned_delete_rewrites_only_candidates(loaded, spark,
                                                         tmp_path):
    loaded.copy_from("t", _shifted(tmp_path, 1000, 10), delimiter="|")
    before = set(mf.read_manifest(loaded._table_dir("t"))["files"])
    assert loaded.delete("t", "a >= 1005") == 5
    after = set(mf.read_manifest(loaded._table_dir("t"))["files"])
    # the seed file (a < 100) is ruled out by its zone map and carried over
    assert len(before & after) == 1
    assert loaded.table("t").count() == 105


def _shifted(tmp_path, start, n):
    p = tmp_path / f"rows-{start}.txt"
    p.write_text("".join(f"{i}|s{i}\n" for i in range(start, start + n)))
    return str(p)


def test_insert_empty_dataframe_returns_zero(loaded, spark):
    empty = spark.createDataFrame([], "a BIGINT, b STRING")
    assert loaded.insert("t", empty) == 0
    assert loaded.table("t").count() == 100


def test_copy_parallel_counts_rows_across_files(engine, tmp_path):
    engine.create_table("p", "a BIGINT, b STRING")
    path = _text(tmp_path, "wide.txt", 1000)
    n = engine.sql(f"COPY p FROM '{path}' DELIMITER '|' (parallel 4)") \
        .collect()[0][0]
    assert n == 1000
    assert len(mf.read_manifest(engine._table_dir("p"))["files"]) == 4
    assert engine.table("p").count() == 1000


def test_merge_with_unsized_source_rewrites_matched_rows(loaded, spark):
    """A source built from a Python list has no size estimate, so the
    hit-file semi join shuffles instead of broadcasting. The file name
    must be taken at the scan, or every target file looks untouched and
    the matched rows survive next to their replacements."""
    src = spark.createDataFrame([(5, "m"), (7, "m")], "a BIGINT, b STRING")
    assert loaded.merge("t", src, ["a"]) == (2, 0)
    rows = sorted(tuple(r) for r in loaded.table("t", where="a IN (5, 7)")
                  .collect())
    assert rows == [(5, "m"), (7, "m")]
    assert loaded.table("t").count() == 100


def test_nan_rows_are_not_pruned_by_zone_maps(engine, spark):
    """Spark orders NaN above every number, so `x > 5` matches it, while
    parquet min/max statistics leave NaN out. Neither a read nor a
    DELETE may rule such a file out."""
    engine.create_table("f", "x DOUBLE")
    engine.insert("f", spark.sql(
        "SELECT * FROM VALUES (1.0D), (CAST('NaN' AS DOUBLE)), (3.0D)"
        " AS s(x)").repartition(1))
    engine.insert("f", spark.sql(
        "SELECT CAST('NaN' AS DOUBLE) AS x"))
    assert engine.table("f", where="x > 5").count() == 2
    assert engine.delete("f", "x >= 5") == 2
    assert engine.table("f").count() == 2


def test_nan_bounded_file_is_not_pruned_on_less_than(engine, spark):
    """A file whose first double is NaN still holds a row matching
    `x < 5`. Whether the writer leaves NaN out of the min/max or stores
    it (test_zonemap.test_nan_bounds_are_not_collected), the file is
    kept."""
    engine.create_table("f", "x DOUBLE")
    engine.insert("f", spark.sql(
        "SELECT * FROM VALUES (CAST('NaN' AS DOUBLE)), (1.0D) AS s(x)")
        .repartition(1))
    assert engine.table("f", where="x < 5").count() == 1
    assert engine.delete("f", "x < 5") == 1
    assert [r.x != r.x for r in engine.table("f").collect()] == [True]


def test_invalid_predicate_raises_when_every_file_is_pruned(loaded):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        loaded.delete("t", "a > 1000 AND nosuch = 1")
    with pytest.raises(AnalysisException):
        loaded.update("t", {"b": "'u'"}, "a > 1000 AND nosuch = 1")
    with pytest.raises(AnalysisException):
        loaded.table("t", where="a > 1000 AND nosuch = 1")
