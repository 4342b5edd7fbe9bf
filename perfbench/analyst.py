"""``analyst_mix``: short catalog queries, as an analyst runs them.

Stateless headline queries, at least one per operator family, at
sf0.1 row counts. Every run executes whole rounds; a round is every
query once, in an order shuffled from the seed, so each run holds the
same mix and each query appears several times (once per warm-up round,
then once per measured round). An op is one query: build the plan through
``plans.QUERIES[name]`` and materialize every row through the noop
sink. The queries that read the shared telemetry fixture or the
reference checkout (``approach_pipeline_real_airports``,
``streaming_approach_work_queue``, ``approach_pipeline_demo``) are
left to ``flight_queue``.

Correctness, after every op of the run has finished (outside every
timed span and outside the memory peak): each op's plan is run once
more, untimed, to take an order-insensitive fingerprint of its output
(XOR of row hashes, and the row count). For the first op of each
query that run also collects the rows, by a Spark ``Observation`` on
the same execution, and compares them with the DuckDB oracle using
``tools/check_oracle.py``'s comparison; its fingerprint is then the
expected value for every other op of that query.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from flights import Op

# query -> the layer its cost sits in. An odd count, so the median op
# is the middle query's middle sample: with 8 queries (q3_shipping_priority
# too) it fell in the gap between the four fast and the four slow ones
# and jumped across it from run to run.
MIX = {
    "q6_forecast_revenue": "plans.relational",
    "episode_detect_events": "operators.windows",
    "asof_click_before_purchase": "operators.joins",
    "dedup_exact": "operators.dedup",
    "ann_cosine_topk": "operators.similarity",
    "text_stats": "functions.text",
    "text_quality": "functions.text",
}
FAMILIES = sorted(set(MIX.values()))
ROUND_S = 5.0              # --seconds per measured round: 15 s gives three
# summed op time per round in one run (4 cores): 11.9, 3.9, 3.2, 3.0,
# 3.1, 3.3, 3.0, 2.7 s; two rounds take the JIT slowdown's bulk
WARMUP_ROUNDS = 2


def _check_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalystMix:
    unit = "queries"

    def __init__(self, seed: int, work_dir: str, root: str):
        self.seed = seed
        self.dir = work_dir
        self.root = root
        self.rng = np.random.default_rng([seed, 7])

    def trace_targets(self):
        return []

    def setup(self, spark, tracer=None) -> None:
        self.spark, self.tracer = spark, tracer
        self.sf = gen.write_analyst(self.seed, os.path.join(self.dir, "sf"))
        self.warmup = [self.op(name) for _ in range(WARMUP_ROUNDS)
                       for name in self._round()]

    def _round(self) -> list[str]:
        return [str(q) for q in self.rng.permutation(list(MIX))]

    def measure(self, seconds: float) -> list[Op]:
        """A fixed number of whole rounds for a given ``seconds`` (at
        least two), so every run and every commit runs the same mix."""
        ops: list[Op] = []
        for _ in range(max(2, round(seconds / ROUND_S))):
            for name in self._round():
                ops.append(self.op(name, op_id=len(ops)))
        return ops

    def op(self, name: str, op_id: int | None = None) -> Op:
        from ngafid_cpat_spark.plans import QUERIES

        tr = self.tracer if op_id is not None else None
        if tr is not None:
            tr.op_id = op_id
        df, err = None, None
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.span(f"query.{name}"):
                    with tr.span("query.build"):
                        df = QUERIES[name](self.spark, self.sf)
                    with tr.span("query.execute"):
                        df.write.format("noop").mode("overwrite").save()
            else:
                df = QUERIES[name](self.spark, self.sf)
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        latency = time.perf_counter() - t0
        if tr is not None:
            tr.op_id = None
        print(f"analyst_mix {name}: {latency:.3f} s, {err or 'done'}", file=sys.stderr)
        o = Op(name, latency, 1, err is None, family=MIX[name])
        o.plan = df
        return o

    def check(self, ops: list[Op]) -> None:
        """Oracle-check each query's first op, then hold every other op
        of that query (warm-up and measured) to its fingerprint."""
        from pyspark.sql import functions as F

        def fp(plan):
            try:
                return tuple(plan.agg(
                    F.expr("bit_xor(xxhash64(struct(*)))"), F.count(F.lit(1))).first())
            except Exception as e:  # a failed check fails the op, not the run
                return f"{type(e).__name__}: {e}"

        first = self._firsts()
        todo = [o for o in [*self.warmup, *ops] if o.ok and o not in first]
        # the fingerprints are independent jobs; they run side by side,
        # and next to the oracle cross-check
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            pending = [pool.submit(fp, o.plan) for o in todo]
            expected = self.cross_check(first)
            got = [f.result() for f in pending]
        for o, g in zip(todo, got):
            if g != expected.get(o.name):
                o.ok = False
                print(f"analyst_mix {o.name}: fingerprint {g} != "
                      f"expected {expected.get(o.name)}", file=sys.stderr)

    def _firsts(self) -> list[Op]:
        """The first op of each query."""
        seen: dict[str, Op] = {}
        for o in self.warmup:
            seen.setdefault(o.name, o)
        return list(seen.values())

    def cross_check(self, first: list[Op]) -> dict[str, tuple[int, int]]:
        """Collect each query's first op's rows and compare them with
        the query's DuckDB oracle; returns the fingerprints that passed."""
        import duckdb
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ngafid_cpat_spark.plans.queries import ORACLES, SCALED_ORACLES
        from ngafid_cpat_spark.sources import TABLES

        oracle = _check_oracle(self.root)
        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf}/{t}.parquet')")
        expected = {}
        try:
            for o in first:
                if not o.ok:
                    continue
                obs = Observation(f"fp_{o.name}")
                try:
                    rows = [tuple(r) for r in o.plan.observe(
                        obs,
                        F.expr("bit_xor(xxhash64(struct(*)))").alias("fp"),
                        F.count(F.lit(1)).alias("n"),
                    ).collect()]
                    res = con.execute(SCALED_ORACLES.get(o.name, ORACLES[o.name]))
                    duck_cols = [d[0] for d in res.description]
                    problems = [p for p in oracle.compare(
                        o.name, rows, o.plan.columns, res.fetchall(), duck_cols)
                        if "near-miss" not in p]
                    fp = (obs.get["fp"], obs.get["n"])
                    if fp[1] != len(rows) or not rows:
                        problems.append(f"{len(rows)} rows, observed {fp[1]}")
                except Exception as e:  # a failed check fails the op, not the run
                    problems = [f"{type(e).__name__}: {e}"]
                if not problems:
                    expected[o.name] = fp
                else:
                    o.ok = False
                    print(f"analyst_mix {o.name}: oracle mismatch {problems[:3]}",
                          file=sys.stderr)
        finally:
            con.close()
        return expected

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        out = {}
        for fam in FAMILIES:
            xs = [o.latency for o in ops if o.ok and o.extra["family"] == fam]
            out[f"{fam}.p50_s"] = statistics.median(xs) if xs else 0.0
        return out
