"""``flight_queue``: the reference's deployment, one small batch at a time.

New flights arrive in batches of ``gen.BATCH_FLIGHTS``. Each op hands
one batch's telemetry to the program and runs one in-process
``analyze --status`` through ``ngafid_cpat_spark.__main__.main``: the
pending-flights scan, the gridded nearest airport over the national
registry, the approach pipeline and ``commit_analysis`` into a results
table that starts empty every run. An op is timed from the call to
the return, i.e. until the commit manifest exists.

Checks run after every op of the run, warm-up included, has finished,
so they are outside every timed span and outside the memory peak:
the results each op committed for its batch must be non-empty and
equal ``plans.approach_twin.analyze_twin`` run on the same batch (an
order-insensitive fingerprint of the rows, floats at 6 decimals), and
every flight of the batch must be flipped to analyzed in the status
table.

The traced run adds one fleet op after the checks: the first batch's
flights are re-analyzed through ``approach.analyze_fleet`` with the
generated per-aircraft-type thresholds, materialized once, and MERGEd
over the results table with ``sinks.upsert``. It is checked against
the twin run per type with that type's thresholds. Its span times are
reported as layer metrics of their own, apart from the queue ops.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import gen

# a run's op latencies (4 cores): 18.1, 12.1, 9.6, 8.9, 9.8, 9.9,
# 10.6, 9.2, 11.0 s; the JIT slowdown is gone from the third op on
WARMUP_OPS = 2
OP_S = 5.0                 # --seconds per measured op: 15 s gives three
MAX_BATCHES = 200          # status rows pre-queued; far above any run's ops
RESULT_KEYS = ["flight_id", "approach_id"]


class Op:
    def __init__(self, name: str, latency: float, units: int, ok: bool, **extra):
        self.name, self.latency, self.units, self.ok = name, latency, units, ok
        self.extra = extra


def fingerprint(rows) -> tuple[int, str]:
    canon = sorted(
        repr(tuple(round(v, 6) if isinstance(v, float) else v for v in r))
        for r in rows
    )
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


class FlightQueue:
    unit = "flights"

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.dir = work_dir
        self.next_batch = 0

    def trace_targets(self):
        from ngafid_cpat_spark import __main__ as cli
        from ngafid_cpat_spark import sinks
        from ngafid_cpat_spark.plans import approach
        from ngafid_cpat_spark.sources import tables

        return [
            (cli, "cmd_analyze", "main.cmd_analyze"),
            (tables, "read_csv", "sources.read_csv"),
            (sinks, "read_table", "sinks.read_table"),
            (approach, "pending_flights", "approach.pending_flights"),
            (approach, "with_nearest_airport", "approach.with_nearest_airport"),
            (approach, "analyze", "approach.analyze"),
            (approach, "analyze_fleet", "approach.analyze_fleet"),
            (sinks, "commit_analysis", "sinks.commit_analysis"),
            (sinks, "batch_fingerprint", "sinks.batch_fingerprint"),
            (sinks, "upsert", "sinks.upsert"),
            (sinks, "mark_analyzed", "sinks.mark_analyzed"),
        ]

    def setup(self, spark, tracer=None) -> None:
        from ngafid_cpat_spark import sinks

        self.spark, self.tracer = spark, tracer
        self.dims = gen.Dims(self.seed)
        self.airports_csv, self.runways_csv = self.dims.write(self.dir)
        self.results = os.path.join(self.dir, "approaches")
        self.status = os.path.join(self.dir, "flight_analyses")
        queued = spark.createDataFrame(
            [(f, 0) for f in range(1, MAX_BATCHES * gen.BATCH_FLIGHTS + 1)],
            "flight_id long, approach_analysis int",
        )
        sinks.create_table(queued, self.status, keys=["flight_id"], n_buckets=16)
        self.warmup = [self.op() for _ in range(WARMUP_OPS)]

    def measure(self, seconds: float) -> list[Op]:
        """A fixed number of ops for a given ``seconds`` (at least
        three), so every run and every commit does the same work."""
        return [self.op(op_id=i) for i in range(max(3, round(seconds / OP_S)))]

    def op(self, op_id: int | None = None) -> Op:
        from ngafid_cpat_spark.__main__ import main

        batch = self.next_batch
        self.next_batch += 1
        table = gen.batch_table(self.seed, self.dims, batch, gen.BATCH_FLIGHTS)
        tel = gen.write_parquet(table, os.path.join(self.dir, f"arrivals/{batch:04d}"))
        argv = ["analyze", "--telemetry", tel,
                "--airports", self.airports_csv, "--runways", self.runways_csv,
                "--output", self.results, "--status", self.status]
        if self.tracer is not None:
            self.tracer.op_id = op_id
        wall0 = time.time()
        t0 = time.perf_counter()
        err = None
        try:
            with contextlib.redirect_stdout(sys.stderr):
                if self.tracer is not None and op_id is not None:
                    with self.tracer.span("main.main"):
                        rc = main(argv)
                else:
                    rc = main(argv)
            if rc != 0:
                err = f"exit code {rc}"
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        latency = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.op_id = None
        print(f"flight_queue batch {batch}: {latency:.3f} s, {err or 'done'}",
              file=sys.stderr)
        ids = [int(f) for f in np.unique(table.column("flight").to_numpy())]
        o = Op(f"batch-{batch}", latency, len(ids), err is None)
        if err is None:
            o.extra.update(self.sink_counters(wall0))
        o.inputs = (batch, table, tel, ids)
        return o

    # -- checks, after every op of the run --------------------------------

    def check(self, ops: list[Op]) -> None:
        """Check every op (warm-up and measured) against the twin and
        the status table; a wrong op is marked failed."""
        from pyspark.sql import functions as F

        from ngafid_cpat_spark import sinks

        cols = self._result_cols()
        committed = sinks.read_table(self.spark, self.results).select(*cols)
        by_flight: dict[int, list] = {}
        for r in committed.collect():
            by_flight.setdefault(r["flight_id"], []).append(r)
        flipped = {r[0] for r in sinks.read_table(self.spark, self.status)
                   .filter(F.col("approach_analysis") == 1)
                   .select("flight_id").collect()}
        todo = [o for o in [*self.warmup, *ops] if o.ok]

        def twin(o):
            _, table, tel, _ = o.inputs
            try:
                return self._twin(self.spark.read.parquet(tel), table).collect()
            except Exception as e:  # a failed check fails the op, not the run
                return f"twin failed: {type(e).__name__}: {e}"

        # the twin runs are independent jobs; run them side by side
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            wants = list(pool.map(twin, todo))
        for o, want in zip(todo, wants):
            batch, _, _, ids = o.inputs
            got = [r for f in ids for r in by_flight.get(f, [])]
            err = want if isinstance(want, str) else self._compare(got, want)
            if err is None and not flipped.issuperset(ids):
                err = f"{len(set(ids) - flipped)} of {len(ids)} flights not flipped"
            if err is None:
                o.extra["write_amplification"] = o.extra.pop("rows_written") / len(got)
            else:
                o.ok = False
            print(f"flight_queue batch {batch} check: {err or 'ok'}", file=sys.stderr)

    @staticmethod
    def _result_cols() -> list[str]:
        from ngafid_cpat_spark.plans import approach_twin

        return [f.name for f in approach_twin.RESULT_SCHEMA.fields]

    @staticmethod
    def _compare(got, want) -> str | None:
        n_got, fp_got = fingerprint(got)
        n_want, fp_want = fingerprint(want)
        if n_got == 0:
            return "no approach rows committed"
        if fp_got != fp_want:
            return f"results {n_got}/{fp_got} != twin {n_want}/{fp_want}"
        return None

    def _twin(self, telemetry, table, th=None):
        from pyspark.sql import functions as F

        from ngafid_cpat_spark.plans import approach, approach_twin

        codes = self.twin_airports(table)
        ap = self._csv(self.airports_csv, "AIRPORTS_CSV_SCHEMA").filter(
            F.col("airport_code").isin(codes))
        rw = self._csv(self.runways_csv, "RUNWAYS_CSV_SCHEMA").filter(
            F.col("airport_code").isin(codes))
        return approach_twin.analyze_twin(telemetry, ap, rw, th or approach.Thresholds())

    def _csv(self, path: str, schema_name: str):
        from ngafid_cpat_spark import __main__ as cli
        from ngafid_cpat_spark.sources.tables import read_csv

        return read_csv(self.spark, path, getattr(cli, schema_name))

    def twin_airports(self, table) -> list[str]:
        """Airports the twin needs: every field within a margin of the
        batch's bounding box, with the margin grown until each tick's
        nearest field inside the box is closer than the margin. Any
        field outside is then farther than the margin from every tick,
        so the subset gives the same nearest airport as the registry."""
        lat = table.column("latitude").to_numpy(zero_copy_only=False)
        lon = table.column("longitude").to_numpy(zero_copy_only=False)
        d = self.dims
        margin = 0.5
        while True:
            keep = np.flatnonzero(
                (d.lat > lat.min() - margin) & (d.lat < lat.max() + margin)
                & (d.lon > lon.min() - margin) & (d.lon < lon.max() + margin))
            near = np.full(len(lat), np.inf)
            for i in keep:
                np.minimum(near, np.abs(lat - d.lat[i]) + np.abs(lon - d.lon[i]), out=near)
            if near.max() < margin:
                return [str(c) for c in d.code[keep]]
            margin *= 2

    def sink_counters(self, since: float) -> dict:
        """Bucket files the op wrote into the results table, read from
        their parquet footers."""
        buckets, rows = set(), 0
        for dirpath, _, files in os.walk(self.results):
            for f in files:
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and os.path.getmtime(p) >= since:
                    buckets.add(os.path.basename(dirpath))
                    rows += pq.ParquetFile(p).metadata.num_rows
        return {"buckets_touched": float(len(buckets)), "rows_written": rows}

    # -- the fleet op (traced run only) ------------------------------------

    def fleet(self, op_id: int) -> Op:
        """Re-analyze the first batch's flights with per-type thresholds
        through ``approach.analyze_fleet`` and MERGE them over the
        results table. Timed in spans; checked per type against the twin
        with that type's thresholds."""
        from ngafid_cpat_spark import sinks
        from ngafid_cpat_spark.plans import approach

        spark, tr = self.spark, self.tracer
        batch, table, tel, ids = self.warmup[0].inputs
        ac_t, th_t = gen.fleet_tables(self.seed, ids)
        aircraft = spark.read.parquet(
            gen.write_parquet(ac_t, os.path.join(self.dir, "fleet/aircraft")))
        thresholds = spark.read.parquet(
            gen.write_parquet(th_t, os.path.join(self.dir, "fleet/thresholds")))
        airports = self._csv(self.airports_csv, "AIRPORTS_CSV_SCHEMA")
        runways = self._csv(self.runways_csv, "RUNWAYS_CSV_SCHEMA")
        tr.op_id = op_id
        wall0 = time.time()
        t0 = time.perf_counter()
        err = None
        try:
            with tr.span("fleet"):
                res = approach.analyze_fleet(
                    spark.read.parquet(tel), airports, runways, aircraft, thresholds)
                # one execution feeds the upsert's counts and its write,
                # as cmd_analyze does for analyze()
                with tr.span("fleet.execute"):
                    res = res.localCheckpoint(eager=True)
                sinks.upsert(spark, res, self.results, keys=RESULT_KEYS)
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        latency = time.perf_counter() - t0
        tr.op_id = None
        o = Op(f"fleet-{batch}", latency, len(ids), err is None)
        if err is None:
            o.extra.update(self.sink_counters(wall0))
            try:
                err, n_rows = self._check_fleet(ids, tel, table, ac_t, th_t)
            except Exception as e:  # a failed check fails the op, not the run
                err = f"check failed: {type(e).__name__}: {e}"
            if err is None:
                o.extra["write_amplification"] = o.extra.pop("rows_written") / n_rows
            o.ok = err is None
        print(f"fleet batch {batch}: {latency:.3f} s, {err or 'ok'}", file=sys.stderr)
        return o

    def _check_fleet(self, ids, tel, table, ac_t, th_t) -> tuple[str | None, int]:
        """The re-analyzed rows against the twin run per aircraft type
        with that type's thresholds; returns the error and the row count."""
        from pyspark.sql import functions as F

        from ngafid_cpat_spark import sinks
        from ngafid_cpat_spark.plans import approach

        got = (sinks.read_table(self.spark, self.results).select(*self._result_cols())
               .filter(F.col("flight_id").isin(ids)).collect())
        telemetry = self.spark.read.parquet(tel)
        types = ac_t.to_pydict()
        want = []
        for row in th_t.to_pylist():
            flights = [f for f, t in zip(types["id"], types["aircraft_type"])
                       if t == row["aircraft_id"]]
            if flights:
                th = approach.Thresholds(
                    **{k: v for k, v in row.items() if k != "aircraft_id"})
                want += self._twin(telemetry.filter(F.col("flight").isin(flights)),
                                   table, th).collect()
        return self._compare(got, want), len(got)

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {f"sinks.{k}": statistics.median([o.extra.get(k, 0.0) for o in ops])
                for k in ("buckets_touched", "write_amplification")}
