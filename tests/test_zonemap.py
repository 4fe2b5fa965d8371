"""Zone-map file skipping: per-file min/max in the manifest (commit-time,
footer-only) prune whole files from Engine.table(where=…) scans — the
manifest-level analog of the reference's per-block metadata
(/root/reference/src/access/cs.rs:91-107) and Delta/Iceberg file skipping.
Pruning must never change results (full predicate re-applied as filter).
"""

from __future__ import annotations

import pytest

from kuibadb_spark.engine import Engine
from kuibadb_spark.plans import manifest as mf, zonemap


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_parse_conjuncts():
    got = zonemap.parse_conjuncts(
        "a < 5 AND b BETWEEN 10 AND 20 AND c = 'x' AND weird(d) > 1 AND e >= 2.5"
    )
    assert ("a", "<", 5, None) in got
    assert ("b", "between", 10, 20) in got
    assert ("c", "=", "x", None) in got
    assert ("e", ">=", 2.5, None) in got
    assert len(got) == 4  # the function-call conjunct is skipped


def test_parse_conjuncts_splits_only_top_level_and():
    """AND inside NOT (…), parentheses, CASE … END, quotes or a comment
    is not a conjunct separator: none of these pieces may prune."""
    for where in (
        "NOT (a = 1 AND b = 2 AND c = 3)",
        "s <> 'k AND a = 3 AND k'",
        "CASE WHEN a = 1 AND b = 2 AND c = 3 THEN false ELSE true END",
        "a <> 1 -- AND b = 2",
        r"s <> 'x\' AND b = 2 AND \'y'",
    ):
        assert zonemap.parse_conjuncts(where) == [], where
    # a NOT conjunct is skipped, its neighbours still count
    assert zonemap.parse_conjuncts("a = 1 AND NOT b = 2 AND c = 3") == [
        ("a", "=", 1, None), ("c", "=", 3, None)]
    # a quoted AND stays inside its literal
    assert zonemap.parse_conjuncts("s = 'k AND a = 3' AND b = 2") == [
        ("s", "=", "k AND a = 3", None), ("b", "=", 2, None)]
    stats = {"f1": {"a": [5, 9]}, "f2": {"a": [0, 4]}}
    # an OR inside quotes or parentheses is not a disjunct separator
    assert zonemap.prune(["f1", "f2"], stats,
                         "a < 5 AND (s = 'x' OR a > 100)") == ["f2"]
    assert zonemap.prune(["f1", "f2"], stats, "a < 5 AND s = 'x OR y'") \
        == ["f2"]


def test_nan_bounds_are_not_collected(monkeypatch):
    """Some writers store NaN as a double column's min or max. A NaN
    bound compares false against every literal, so such a column must be
    left out of the zone map rather than prune `x < 5` wrongly."""
    import pyarrow.parquet as pq

    class Stats:
        has_min_max = True
        min, max = float("nan"), 1.0

    class Col:
        path_in_schema = "x"
        statistics = Stats()

    class RowGroup:
        num_columns = 1

        def column(self, i):
            return Col()

    class Meta:
        num_rows, num_row_groups = 2, 1

        def row_group(self, i):
            return RowGroup()

    class File:
        def __init__(self, path):
            self.metadata = Meta()

    monkeypatch.setattr(pq, "ParquetFile", File)
    stats, rows = zonemap.collect_file_stats(["f"])
    assert (stats, rows) == ({"f": {}}, 2)
    assert zonemap.prune(["f"], stats, "x < 5") == ["f"]


def test_prune_logic():
    stats = {
        "f1": {"a": [0, 9], "s": ["aa", "mm"]},
        "f2": {"a": [10, 19]},
        "f3": {},  # no stats for any column
    }
    files = ["f1", "f2", "f3", "f4"]  # f4 absent from stats entirely
    assert zonemap.prune(files, stats, "a < 5") == ["f1", "f3", "f4"]
    assert zonemap.prune(files, stats, "a >= 10") == ["f2", "f3", "f4"]
    assert zonemap.prune(files, stats, "a BETWEEN 8 AND 12") == files
    assert zonemap.prune(files, stats, "s = 'zz'") == ["f2", "f3", "f4"]
    # type mismatch (string literal vs numeric stats) prunes nothing
    assert zonemap.prune(files, stats, "a = 'x'") == files
    # unparseable predicate prunes nothing
    assert zonemap.prune(files, stats, "some_udf(a) = 1") == files


def test_engine_file_skipping(engine, tmp_path):
    engine.create_table("t", "a INT, b SMALLINT, c STRING")
    # three disjoint segments by a-range
    for lo in (0, 100, 200):
        engine.copy_from(
            "t",
            _write(tmp_path, f"seg{lo}.txt",
                   [f"{lo + i}|{i % 5}|r{lo + i}" for i in range(10)]),
            delimiter="|",
        )
    m = mf.read_manifest(engine._table_dir("t"))
    assert len(m["files"]) >= 3
    assert all(f in m["stats_by_file"] for f in m["files"])

    pruned = engine.table("t", where="a BETWEEN 100 AND 109")
    full = engine.table("t").filter("a BETWEEN 100 AND 109")
    # correctness: identical rows
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
    # scan reduction: only the middle segment's files are opened
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())

    # string-column pruning
    pruned_s = engine.table("t", where="c = 'r205'")
    assert [r["a"] for r in pruned_s.collect()] == [205]
    assert len(pruned_s.inputFiles()) < len(m["files"])

    # predicate matching nothing → zero files, empty result, right schema
    none = engine.table("t", where="a > 9999")
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["a", "b", "c"]

    # compaction rewrites stats for the new file
    engine.compact("t", target_files=1)
    m2 = mf.read_manifest(engine._table_dir("t"))
    assert len(m2["files"]) == 1
    assert m2["files"][0] in m2["stats_by_file"]
    assert engine.table("t", where="a BETWEEN 100 AND 109").count() == 10


def test_clustered_compaction_enables_pruning(engine, tmp_path):
    """Append-order files interleave the key domain (every file spans
    [0,120) ⇒ zone maps prune nothing); compact(sort_by=) range-clusters
    the rewrite so a narrow predicate opens ~1/target_files of the table —
    the maintenance loop a 100 TB table needs to keep scans proportional
    to the predicate."""
    engine.create_table("t", "a INT, c STRING")
    # 3 appends, each covering the FULL key range 0..119 (interleaved)
    for seg in range(3):
        engine.copy_from(
            "t",
            _write(tmp_path, f"s{seg}.txt",
                   [f"{i}|x{seg}_{i}" for i in range(seg, 120, 3)]),
            delimiter="|",
        )
    m = mf.read_manifest(engine._table_dir("t"))
    # interleaved: zone maps keep every file for a narrow range predicate
    assert len(zonemap.prune(m["files"], m["stats_by_file"],
                             "a BETWEEN 10 AND 19")) == len(m["files"])

    engine.compact("t", target_files=4, sort_by=["a"])
    m2 = mf.read_manifest(engine._table_dir("t"))
    assert len(m2["files"]) == 4
    kept = zonemap.prune(m2["files"], m2["stats_by_file"],
                         "a BETWEEN 10 AND 19")
    # clustered: a 10/120 range predicate touches at most 2 of 4 files
    assert len(kept) <= 2
    # correctness unchanged through the clustered rewrite
    df = engine.table("t", where="a BETWEEN 10 AND 19")
    assert sorted(r["a"] for r in df.collect()) == list(range(10, 20))
    assert len(df.inputFiles()) <= 2


def test_delete_keeps_pruning_correct(engine, tmp_path):
    engine.create_table("t", "a INT, b SMALLINT, c STRING")
    engine.copy_from("t", _write(tmp_path, "x.txt",
                                 [f"{i}|1|v{i}" for i in range(20)]),
                     delimiter="|")
    engine.delete("t", "a >= 10")
    m = mf.read_manifest(engine._table_dir("t"))
    assert all(f in m["stats_by_file"] for f in m["files"])
    assert engine.table("t", where="a < 5").count() == 5
    assert engine.table("t", where="a >= 10").count() == 0


# -- property tests: pruning is sound for ANY stats/predicate ---------------
try:
    from hypothesis import given, settings, strategies as st

    _val = st.one_of(st.integers(-50, 50),
                     st.text(alphabet="abc", min_size=0, max_size=3))
    _col = st.sampled_from(["a", "b", "c"])
    _op = st.sampled_from(["<", "<=", "=", ">", ">="])

    def _matches(row, conj):
        col, op, v, v2 = conj
        x = row.get(col)
        if x is None or isinstance(x, str) != isinstance(v, str):
            return False
        if op == "between":
            return (not (isinstance(x, str) != isinstance(v2, str))
                    and v <= x <= v2)
        return {"<": x < v, "<=": x <= v, "=": x == v,
                ">": x > v, ">=": x >= v}[op]

    @given(
        rows=st.lists(
            st.fixed_dictionaries(
                {}, optional={"a": st.integers(-50, 50),
                              "b": st.integers(-50, 50),
                              "c": st.text("abc", max_size=3)},
            ),
            min_size=1, max_size=8,
        ),
        col=_col, op=_op, v=_val,
    )
    @settings(max_examples=300, deadline=None)
    def test_prune_never_loses_matching_rows(rows, col, op, v):
        """Soundness: any row matching the predicate lives in a file the
        pruner keeps — for arbitrary data and any parseable conjunct."""
        # one "file" per row, with truthful stats (min=max=value)
        stats = {
            f"f{i}": {k: [row[k], row[k]] for k in row}
            for i, row in enumerate(rows)
        }
        files = list(stats)
        lit = f"'{v}'" if isinstance(v, str) else str(v)
        kept = set(zonemap.prune(files, stats, f"{col} {op} {lit}"))
        for i, row in enumerate(rows):
            if _matches(row, (col, op, v, None)):
                assert f"f{i}" in kept

    @given(
        lo=st.integers(-50, 50), width=st.integers(0, 30),
        fmin=st.integers(-50, 50), fwidth=st.integers(0, 30),
    )
    @settings(max_examples=300, deadline=None)
    def test_prune_between_is_interval_overlap(lo, width, fmin, fwidth):
        stats = {"f": {"a": [fmin, fmin + fwidth]}}
        kept = zonemap.prune(["f"], stats,
                             f"a BETWEEN {lo} AND {lo + width}")
        overlap = not (fmin + fwidth < lo or fmin > lo + width)
        assert (kept == ["f"]) == overlap
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_zorder_compaction_prunes_on_both_columns(engine, tmp_path):
    """Z-order clustering: after compact(zorder_by=["a","b"]), zone maps
    prune on predicates over EITHER column — a lexicographic sort serves
    only its leading column."""
    engine.create_table("t", "a INT, b INT")
    # a and b independent: (i*7)%120 walks b over the full range per file
    for seg in range(3):
        engine.copy_from(
            "t",
            _write(tmp_path, f"z{seg}.txt",
                   [f"{i}|{(i * 7) % 120}" for i in range(seg, 120, 3)]),
            delimiter="|",
        )
    engine.compact("t", target_files=16, zorder_by=["a", "b"])
    m = mf.read_manifest(engine._table_dir("t"))
    # empty z-ranges write no file; near-target count is the contract
    assert 12 <= len(m["files"]) <= 16

    kept_a = zonemap.prune(m["files"], m["stats_by_file"], "a BETWEEN 0 AND 14")
    kept_b = zonemap.prune(m["files"], m["stats_by_file"], "b BETWEEN 0 AND 14")
    # an eighth of the domain on EITHER axis skips a meaningful share of
    # files (z-order trades per-axis sharpness for both-axes coverage; a
    # lexicographic sort on a would leave kept_b == all files)
    assert len(kept_a) <= len(m["files"]) * 2 // 3
    assert len(kept_b) <= len(m["files"]) * 2 // 3

    # correctness through the z-ordered rewrite
    assert sorted(r["a"] for r in
                  engine.table("t", where="a BETWEEN 0 AND 14").collect()) \
        == list(range(0, 15))
    assert engine.table("t", where="b BETWEEN 0 AND 14").count() == \
        sum(1 for i in range(120) if (i * 7) % 120 <= 14)


def test_prune_or_and_in():
    stats = {
        "f1": {"a": [0, 9], "s": ["aa", "mm"]},
        "f2": {"a": [10, 19]},
        "f3": {"a": [20, 29]},
    }
    files = ["f1", "f2", "f3"]
    # OR: union of disjunct survivors
    assert zonemap.prune(files, stats, "a < 5 OR a > 25") == ["f1", "f3"]
    # disjunct 1 keeps f1; disjunct 2 keeps f2/f3 (no s stats) → union = all
    assert zonemap.prune(files, stats, "a < 5 OR s = 'zz'") == files
    # IN-list: any member inside [min,max] keeps the file
    assert zonemap.prune(files, stats, "a IN (3, 25)") == ["f1", "f3"]
    assert zonemap.prune(files, stats, "a IN (50, 60)") == []
    # IN with AND
    assert zonemap.prune(files, stats, "a IN (3, 25) AND a >= 20") == ["f3"]
    # parenthesized OR degrades safely (never unsound)
    got = zonemap.prune(files, stats, "(a < 5 OR a > 25) AND a != 7")
    assert set(got) >= {"f1", "f3"}


def test_prune_or_in_soundness_property():
    from hypothesis import given, settings, strategies as st

    @given(
        vals=st.lists(st.integers(-20, 20), min_size=1, max_size=6),
        ranges=st.lists(
            st.tuples(st.integers(-20, 20), st.integers(0, 10)),
            min_size=1, max_size=6,
        ),
        inlist=st.lists(st.integers(-20, 20), min_size=1, max_size=4),
        cut=st.integers(-20, 20),
    )
    @settings(max_examples=200, deadline=None)
    def check(vals, ranges, inlist, cut):
        stats = {f"f{i}": {"a": [lo, lo + w]} for i, (lo, w) in enumerate(ranges)}
        files = list(stats)
        ins = ", ".join(map(str, inlist))
        pred = f"a IN ({ins}) OR a > {cut}"
        kept = set(zonemap.prune(files, stats, pred))
        for i, (lo, w) in enumerate(ranges):
            # any point in [lo, lo+w] satisfying the predicate ⇒ file kept
            sat = any(
                (x in inlist or x > cut) for x in range(lo, lo + w + 1)
            )
            if sat:
                assert f"f{i}" in kept
    check()


def test_analyze_backfills_zone_maps(engine, tmp_path):
    """ANALYZE backfills zone maps for files that predate them (or came
    from external writers): after dropping stats_by_file, one ANALYZE
    restores whole-file skipping."""
    engine.create_table("t", "a INT, c STRING")
    for lo in (0, 100):
        engine.copy_from(
            "t",
            _write(tmp_path, f"b{lo}.txt",
                   [f"{lo + i}|v{lo + i}" for i in range(10)]),
            delimiter="|",
        )
    tdir = engine._table_dir("t")
    m = mf.read_manifest(tdir)
    m.pop("stats_by_file")  # simulate a pre-zonemap table
    mf._persist(tdir, m)

    engine.analyze("t")
    m2 = mf.read_manifest(tdir)
    assert all(f in m2["stats_by_file"] for f in m2["files"])
    df = engine.table("t", where="a >= 100")
    assert df.count() == 10
    assert len(df.inputFiles()) < len(m2["files"])


def test_scan_stats_reports_pruning(spark, tmp_path):
    """scan_stats: metadata-only gauge of zone-map file skipping — after
    a clustered compaction, a selective predicate must show most files
    pruned; without a predicate nothing is."""
    from kuibadb_spark.engine import Engine

    engine = Engine(spark, warehouse=str(tmp_path / "wh"))
    engine.create_table("zs", "k INT, v STRING")
    engine.insert(
        "zs", spark.range(0, 10000).selectExpr("CAST(id AS INT) AS k",
                                               "CAST(id AS STRING) AS v")
    )
    engine.compact("zs", target_files=8, sort_by=["k"])
    st = engine.scan_stats("zs", "k = 7")
    assert st["files_total"] == 8
    assert st["files_pruned"] >= 6, st
    assert engine.scan_stats("zs")["files_pruned"] == 0
    # and the pruned read still answers correctly
    assert engine.table("zs", where="k = 7").count() == 1


def _three_files(engine, tmp_path):
    """Three files with disjoint b ranges; none of them holds b = 2."""
    engine.create_table("t", "a INT, b INT, c INT, s STRING")
    for lo in (10, 20, 30):
        engine.copy_from(
            "t",
            _write(tmp_path, f"b{lo}.txt",
                   [f"{i % 4}|{lo + i}|{i % 3}|r{lo + i}" for i in range(10)]),
            delimiter="|",
        )


@pytest.mark.parametrize("where", [
    "NOT (a = 1 AND b = 2 AND c = 3)",
    "s <> 'k AND b = 2 AND k'",
])
def test_nested_and_never_prunes_reads_or_deletes(engine, tmp_path, where):
    """Every row satisfies these predicates, though `b = 2` (true of no
    file) appears between two ANDs: a read returns every row and a
    DELETE removes every row."""
    _three_files(engine, tmp_path)
    assert engine.table("t", where=where).count() == 30
    assert engine.delete("t", where) == 30
    assert engine.table("t").count() == 0
