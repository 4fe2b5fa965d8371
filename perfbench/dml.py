"""The ``dml_txn`` workload: writes beside snapshot reads on one Engine table.

The table holds lineitem rows. Set-up exports seeded lineitem chunks as
``|``-delimited text and loads the first ones with COPY. Each operation is
one of a fixed, recorded mix (``CYCLE``), shuffled per cycle by the seed.
The mix includes compacting the table (sorted by ``l_orderkey``) followed by
garbage collection, so the file count and the bytes level off.

Correctness: a DuckDB table mirrors every operation. Each count an Engine
call returns and each snapshot-read aggregate must equal the mirror's, and
at the end the table's row multiset must hash to the mirror's.
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import fixture

TABLE = "lineitem_live"
DDL = ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
       "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
       "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
       "l_linestatus STRING, l_shipdate DATE")
DUCK_DDL = DDL.replace("STRING", "VARCHAR")
COLS = [c.split()[0] for c in DDL.split(", ")]
KEY = ["l_orderkey", "l_linenumber"]
ARROW_SCHEMA = fixture.LINEITEM_SCHEMA.set(
    10, pa.field("l_shipdate", pa.date32()))

# Median time of each operation kind, measured with this module's sizes on
# 4 cores. The mix gives every kind about the same share of wall time:
# a cycle runs round(CYCLE_KIND_S / t) operations of a kind taking t seconds
# (at least one), so a slowdown of any one kind moves ops_per_s about as
# much as a slowdown of any other.
KIND_S = {"read": 0.21, "insert": 0.50, "update": 0.75, "delete": 0.69,
          "copy_from": 0.91, "compact_gc": 0.68, "merge": 1.53,
          "sql_txn": 1.92}
CYCLE_KIND_S = 1.5
CYCLE = [k for k, t in KIND_S.items()
         for _ in range(max(1, round(CYCLE_KIND_S / t)))]
WRITES = {"insert", "update", "delete", "merge", "sql_txn"}
# One warm-up pass: every kind once, and the snapshot read, the cheapest and
# most frequent kind, three times
WARM_PASS = ["copy_from", "insert", "update", "delete", "merge", "sql_txn",
             "compact_gc"] + ["read"] * 3

# Operation sizes are not taken from a trace of real traffic. They keep
# every operation in the regime of the sf0.1 measurements, where per-job
# overhead and not the row count sets the time, on a table small enough
# for a run to take about a minute.
BASE_ORDERS = 2_000         # loaded by set-up: about 8,000 rows
ORDERS_PER_CHUNK = 500      # about 2,000 rows per COPY operation
FRESH_KEY_BASE = 1 << 40    # INSERT/MERGE keys, disjoint from COPY keys
INSERT_ROWS = 50
MERGE_MATCH_ORDERS = 8
MERGE_NEW_ROWS = 20
TXN_ROWS = 3
DML_ORDERS = 6              # orders hit by one UPDATE/DELETE
READ_ORDERS = 60            # orders covered by one snapshot read
COMPACT_FILES = 4


def _agg_sql(where: str) -> str:
    return (f"SELECT count(*), sum(l_quantity), sum(l_linenumber), "
            f"min(l_extendedprice), max(l_extendedprice) "
            f"FROM {TABLE} WHERE {where}")


class DmlWorkload:
    # mean operation time of CYCLE; fixes how many operations a run measures
    NOMINAL_OP_S = sum(KIND_S[k] for k in CYCLE) / len(CYCLE)
    MIN_WARM = 2            # warm-up passes before steadiness is judged

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.spark = None
        self.engine = None
        self.mirror = None
        self.dir = None
        self.loaded_orders = 0
        self.fresh_key = FRESH_KEY_BASE
        self.seen_files: dict[str, int] = {}
        self.reset_counters()
        self.rng = np.random.default_rng([seed, 1])

    # -- inputs ---------------------------------------------------------------
    def _chunk(self, first_order: int, n_orders: int) -> tuple[str, pa.Table]:
        """Lineitem rows of orders [first_order, first_order + n_orders),
        written as ``|``-delimited text; the same seed and range give the
        same rows."""
        rng = np.random.default_rng([self.seed, 2, first_order])
        t = fixture.lineitem(rng, 4 * n_orders, n_orders, 2_000, 100,
                             first_order=first_order)
        t = t.set_column(10, "l_shipdate",
                         pc.cast(t["l_shipdate"], pa.date32()))
        path = os.path.join(self.dir, "chunks", f"orders-{first_order}.txt")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cols = [t[c].to_pylist() for c in COLS]
        with open(path, "w") as f:
            for row in zip(*cols):
                f.write("|".join(_text(v) for v in row) + "\n")
        return path, t

    def _fresh_rows(self, n: int) -> pa.Table:
        rng = self.rng
        keys = self.fresh_key + np.arange(n) // 2
        self.fresh_key += (n + 1) // 2
        return pa.table({
            "l_orderkey": keys.astype(np.int64),
            "l_partkey": rng.integers(0, 2_000, n),
            "l_suppkey": rng.integers(0, 100, n),
            "l_linenumber": (np.arange(n) % 2 + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [["A", "N", "R"][i]
                             for i in rng.integers(0, 3, n)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                rng.integers(9_132, 11_630, n).astype(np.int32), pa.date32()),
        }, schema=ARROW_SCHEMA)

    def _key_range(self, orders: int) -> str:
        lo = int(self.rng.integers(0, max(1, self.loaded_orders - orders)))
        return f"l_orderkey BETWEEN {lo} AND {lo + orders - 1}"

    # -- set-up ---------------------------------------------------------------
    def prepare(self, spark, workdir: str) -> None:
        """Fresh warehouse, table and mirror in ``workdir``; COPY the first
        BASE_ORDERS orders into both."""
        from kuibadb_spark.engine import Engine

        self.spark = spark
        self.dir = workdir
        self.engine = Engine(spark, warehouse=os.path.join(workdir, "wh"))
        self.engine.create_table(TABLE, DDL)
        self.mirror = duckdb.connect()
        self.mirror.execute(f"CREATE TABLE {TABLE} ({DUCK_DDL})")
        self.loaded_orders = 0
        self.fresh_key = FRESH_KEY_BASE
        self.seen_files = {}
        self.rng = np.random.default_rng([self.seed, 1])
        self._copy_chunk(BASE_ORDERS)
        self._scan_storage()

    def kinds(self) -> list[str]:
        return list(WARM_PASS)

    def cycle_len(self) -> int:
        return len(CYCLE)

    def reset_counters(self) -> None:
        """Zero the storage and zone-map counters (taken per run phase)."""
        self.storage = {"bytes": 0, "files": 0, "rows_changed": 0,
                        "writes": 0}
        self.prune = {"files_total": 0, "files_pruned": 0}

    def schedule(self, rng):
        while True:
            yield from (CYCLE[i] for i in rng.permutation(len(CYCLE)))

    # -- operations -----------------------------------------------------------
    def _copy_chunk(self, n_orders: int) -> tuple[int, int, float]:
        """COPY the next ``n_orders`` orders into table and mirror:
        (loaded, expected, seconds in the COPY call)."""
        path, t = self._chunk(self.loaded_orders, n_orders)
        t0 = time.perf_counter()
        n = self.engine.copy_from(TABLE, path, delimiter="|")
        dt = time.perf_counter() - t0
        self.mirror.register("src", t)
        self.mirror.execute(f"INSERT INTO {TABLE} SELECT * FROM src")
        self.mirror.unregister("src")
        self.loaded_orders += n_orders
        return n, t.num_rows, dt

    def _frame(self, t: pa.Table):
        return self.spark.createDataFrame(t.to_pandas(), schema=DDL)

    def _mirror_count(self, where: str) -> int:
        return self.mirror.execute(
            f"SELECT count(*) FROM {TABLE} WHERE {where}").fetchone()[0]

    def run_op(self, kind: str, tag: str) -> dict:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{tag}#run", kind)
        try:
            out = getattr(self, f"_op_{kind}")()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out["kind"] = kind
        if kind in WRITES or kind == "copy_from":
            out["files_written"] = self._account_write(
                out.get("rows_changed", 0))
        elif kind == "compact_gc":
            self._scan_storage()
        return out

    def _op_copy_from(self) -> dict:
        n, expected, dt = self._copy_chunk(ORDERS_PER_CHUNK)
        return {"lat": dt, "ok": n == expected, "rows": n,
                "rows_changed": n, "got": n, "want": expected}

    def _op_insert(self) -> dict:
        t = self._fresh_rows(INSERT_ROWS)
        df = self._frame(t)
        t0 = time.perf_counter()
        n = self.engine.insert(TABLE, df)
        dt = time.perf_counter() - t0
        self.mirror.register("src", t)
        self.mirror.execute(f"INSERT INTO {TABLE} SELECT * FROM src")
        self.mirror.unregister("src")
        return {"lat": dt, "ok": n == t.num_rows, "rows_changed": n,
                "got": n, "want": t.num_rows}

    def _op_update(self) -> dict:
        where = self._key_range(DML_ORDERS)
        want = self._mirror_count(where)
        t0 = time.perf_counter()
        n = self.engine.update(
            TABLE, {"l_quantity": "l_quantity + 1", "l_discount": "0.05"},
            where)
        dt = time.perf_counter() - t0
        self.mirror.execute(
            f"UPDATE {TABLE} SET l_quantity = l_quantity + 1, "
            f"l_discount = 0.05 WHERE {where}")
        return {"lat": dt, "ok": n == want, "rows_changed": n,
                "got": n, "want": want}

    def _op_delete(self) -> dict:
        where = self._key_range(DML_ORDERS)
        want = self._mirror_count(where)
        t0 = time.perf_counter()
        n = self.engine.delete(TABLE, where)
        dt = time.perf_counter() - t0
        self.mirror.execute(f"DELETE FROM {TABLE} WHERE {where}")
        return {"lat": dt, "ok": n == want, "rows_changed": n,
                "got": n, "want": want}

    def _op_merge(self) -> dict:
        where = self._key_range(MERGE_MATCH_ORDERS)
        hit = self.mirror.execute(
            f"SELECT * FROM {TABLE} WHERE {where} ORDER BY l_orderkey, "
            f"l_linenumber").arrow()
        hit = hit.set_column(
            5, "l_extendedprice",
            pc.add(hit["l_extendedprice"], pa.scalar(1.0)))
        src = pa.concat_tables([hit.cast(ARROW_SCHEMA),
                                self._fresh_rows(MERGE_NEW_ROWS)])
        df = self._frame(src)
        t0 = time.perf_counter()
        upd, ins = self.engine.merge(TABLE, df, on=KEY)
        dt = time.perf_counter() - t0
        self.mirror.register("src", src)
        self.mirror.execute(
            f"DELETE FROM {TABLE} t USING src s WHERE "
            + " AND ".join(f"t.{k} = s.{k}" for k in KEY))
        self.mirror.execute(f"INSERT INTO {TABLE} SELECT * FROM src")
        self.mirror.unregister("src")
        want = (hit.num_rows, MERGE_NEW_ROWS)
        return {"lat": dt, "ok": (upd, ins) == want,
                "rows_changed": upd + ins, "got": [upd, ins],
                "want": list(want)}

    def _op_sql_txn(self) -> dict:
        t = self._fresh_rows(TXN_ROWS)
        values = ", ".join(
            "(" + ", ".join(_sql_lit(v) for v in row) + ")"
            for row in zip(*[t[c].to_pylist() for c in COLS]))
        where = self._key_range(DML_ORDERS)
        want = (TXN_ROWS, self._mirror_count(where))
        e = self.engine
        t0 = time.perf_counter()
        e.sql("BEGIN")
        try:
            ins = e.sql(
                f"INSERT INTO {TABLE} VALUES {values}").collect()[0][0]
            dele = e.sql(f"DELETE FROM {TABLE} WHERE {where}").collect()[0][0]
            e.sql("COMMIT")
        except Exception:
            # leave no open transaction behind for the next operation
            if e.in_transaction():
                e.rollback()
            raise
        dt = time.perf_counter() - t0
        self.mirror.register("src", t)
        self.mirror.execute(f"INSERT INTO {TABLE} SELECT * FROM src")
        self.mirror.unregister("src")
        self.mirror.execute(f"DELETE FROM {TABLE} WHERE {where}")
        return {"lat": dt, "ok": (ins, dele) == want,
                "rows_changed": ins + dele, "got": [ins, dele],
                "want": list(want)}

    def _op_read(self) -> dict:
        from pyspark.sql import functions as F

        where = self._key_range(READ_ORDERS)
        st = self.engine.scan_stats(TABLE, where)
        self.prune["files_total"] += st["files_total"]
        self.prune["files_pruned"] += st["files_pruned"]
        t0 = time.perf_counter()
        got = tuple(self.engine.table(TABLE, where=where).agg(
            F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_linenumber"),
            F.min("l_extendedprice"), F.max("l_extendedprice"),
        ).collect()[0])
        dt = time.perf_counter() - t0
        want = tuple(self.mirror.execute(_agg_sql(where)).fetchone())
        return {"lat": dt, "ok": got == want, "got": list(got),
                "want": list(want)}

    def _op_compact_gc(self) -> dict:
        t0 = time.perf_counter()
        self.engine.compact(TABLE, target_files=COMPACT_FILES,
                            sort_by=["l_orderkey"])
        t1 = time.perf_counter()
        self.engine.gc(TABLE)
        t2 = time.perf_counter()
        return {"lat": t2 - t0, "compact": t1 - t0, "gc": t2 - t1,
                "ok": True}

    # -- storage accounting ---------------------------------------------------
    def _table_files(self) -> dict[str, int]:
        tdir = os.path.join(self.engine.warehouse, TABLE)
        out = {}
        for root, _, files in os.walk(tdir):
            for f in files:
                p = os.path.join(root, f)
                if not os.path.islink(p):
                    out[p] = os.path.getsize(p)
        return out

    def _scan_storage(self) -> dict[str, int]:
        files = self._table_files()
        self.seen_files = files
        return files

    def _account_write(self, rows_changed: int) -> int:
        """Add one write's new parquet files to the storage counters;
        returns how many it wrote."""
        before = self.seen_files
        files = self._scan_storage()
        new = [p for p in files if p not in before and p.endswith(".parquet")]
        self.storage["bytes"] += sum(files[p] for p in new)
        self.storage["files"] += len(new)
        self.storage["rows_changed"] += rows_changed
        self.storage["writes"] += 1
        return len(new)

    # -- correctness and end state -------------------------------------------
    def gate(self) -> dict[str, dict]:
        """Final table row multiset against the mirror's."""
        got = _multiset_hash(
            tuple(r) for r in self.engine.table(TABLE).collect())
        want = _multiset_hash(
            self.mirror.execute(f"SELECT * FROM {TABLE}").fetchall())
        return {"final_table": {"match": got == want}}

    def end_state(self) -> dict:
        from kuibadb_spark.plans import manifest as mf

        tdir = os.path.join(self.engine.warehouse, TABLE)
        live = self.mirror.execute(
            f"SELECT count(*) FROM {TABLE}").fetchone()[0]
        m = mf.read_manifest(tdir)
        return {
            "live_rows": live,
            "disk_bytes": sum(self._table_files().values()),
            "manifest_bytes": os.path.getsize(mf.manifest_path(tdir)),
            "manifest_files_live": len(m["files"]),
            "manifest_version": m["version"],
            "storage": dict(self.storage),
            "prune": dict(self.prune),
        }


def _text(v) -> str:
    return repr(v) if isinstance(v, float) else str(v)


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return f"'{v}'"
    if hasattr(v, "isoformat"):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


def _multiset_hash(rows) -> str:
    norm = sorted(
        "|".join("\\N" if v is None else _text(v) for v in row)
        for row in rows)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()
