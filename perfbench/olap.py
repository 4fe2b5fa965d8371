"""The ``olap_short`` workload: registry queries, one closed-loop client.

One operation is one registry key: the query build (the registry function
call, which includes any eager checkpoint work) plus a forced ``noop`` write
of its result, with ``clearCache()`` between operations so no operation
reads another's cached frames. Keys run in seeded passes: every pass runs
each key once, in an order drawn from the seed.

KEYS takes one key per operator class among the sixteen per-job-overhead
keys of the full ``olap_short`` list: hash aggregate (q1), filtered scan
(q6), window (w_ranking_parts) and pandas UDF (udf_apply_in_pandas). Only a
subset fits: a run must bring the session up, warm every key until its
time is steady and measure, in about a minute.
"""

from __future__ import annotations

import time

import fixture

KEYS = ["q1_pricing_summary", "q6_forecast_revenue", "w_ranking_parts",
        "udf_apply_in_pandas"]
# An operation's time keeps falling over its first ten or so executions as
# the JVM JIT warms up, so a warm-up pass runs the cheap keys twice
WARM_TWICE = ["q1_pricing_summary", "q6_forecast_revenue", "w_ranking_parts"]
SCALE = 0.001           # fixture scale: about 6,000 lineitem rows


class OlapWorkload:
    # mean operation time when the benchmark was written (4 cores); fixes
    # how many operations a run measures
    NOMINAL_OP_S = 0.63
    MIN_WARM = 3            # warm-up passes before steadiness is judged

    def __init__(self, seed: int) -> None:
        from kuibadb_spark import registry

        self.keys = list(KEYS)
        self.seed = seed
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        missing = [k for k in self.keys
                   if k not in self.queries or k not in self.oracles]
        if missing:
            raise KeyError(f"keys without a query or oracle: {missing}")
        self.spark = None
        self.sf_dir = None

    # -- set-up ---------------------------------------------------------------
    def prepare(self, spark, workdir: str) -> None:
        """Write the seeded fixture into ``workdir`` and point the
        workload at it."""
        self.spark = spark
        fixture.write(self.seed, SCALE, workdir)
        self.sf_dir = workdir

    def kinds(self) -> list[str]:
        """One warm-up pass."""
        return self.keys + WARM_TWICE

    def cycle_len(self) -> int:
        return len(self.keys)

    def reset_counters(self) -> None:
        pass

    def schedule(self, rng):
        while True:
            yield from (self.keys[i] for i in rng.permutation(len(self.keys)))

    # -- one operation --------------------------------------------------------
    def run_op(self, kind: str, tag: str) -> dict:
        spark = self.spark
        sc = spark.sparkContext
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        sc.setJobGroup(f"{tag}#build", kind)
        df = self.queries[kind](spark, self.sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}#run", kind)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return {"kind": kind, "lat": t2 - t0, "build": t1 - t0, "ok": True}

    # -- correctness ----------------------------------------------------------
    def gate(self) -> dict[str, dict]:
        """Compare every key once with its DuckDB oracle (untimed)."""
        from kuibadb_spark.parity import compare

        out = {}
        for key in self.keys:
            rep = compare(self.spark, key, self.sf_dir, self.queries[key],
                          self.oracles[key])
            # a key returning no rows would pass trivially
            ok = bool(rep["match"]) and rep["spark_rows"] > 0
            out[key] = {"match": ok, "rows": rep["spark_rows"]}
        return out

    def end_state(self) -> dict:
        return {}
