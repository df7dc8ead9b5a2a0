"""One workload in its own Spark session, driven by one closed-loop client.

Run by ``perfbench/run.py`` (which sets the working directory, the
environment and the time limit); prints human-readable metric lines and,
last, one JSON object.

Set-up (timed as ``setup_s``): build the seeded fixture, start the Spark
session, run the warm-up ops; the fixture build is repeated to
``FIXTURE_BUILDS`` builds and its median counts.
Then the client runs the number of whole decks of operations that fits
``--seconds``. With ``--trace 1`` every operation also runs under a Spark job
group with spans around each layer call, followed by raw ``sqlite3``
floors, one probe op of every other workload (so each per-layer metric
is measured in every run) and the ``sqlite_types`` kernel probes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

from perfbench import fixtures
from perfbench.probes import RssSampler, kernel_probes
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Ctx, Op
from sqlitedataframe_spark.session import get_spark

FIXTURE_BUILDS = 3

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


@dataclass
class Done:
    op_id: int
    kind: str
    phase: str
    seconds: float
    rows: int
    ok: bool


class Client:
    """Closed loop: the next operation starts when the previous one and its
    check have finished."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.done: list[Done] = []

    def run(self, op: Op, phase: str) -> Done:
        op_id = len(self.done)
        with self.tracer.op(op_id, op.kind, phase):
            t0 = time.perf_counter()
            try:
                result, error = op.run(), None
            except Exception:  # a failed op is counted, the run goes on
                result, error = None, traceback.format_exc()
            seconds = time.perf_counter() - t0
        ok = False
        if error is None:
            try:
                ok = bool(op.check(result))
            except Exception:
                error = traceback.format_exc()
        if not ok:
            print(f"FAILED {op.kind} ({phase}): {error or 'output differs from the reference'}", file=sys.stderr)
        if self.tracer.enabled and op.floor is not None:
            with self.tracer.within(op_id):
                op.floor()
        done = Done(op_id, op.kind, phase, seconds, op.rows(result) if ok else 0, ok)
        self.done.append(done)
        print(f"op {op_id} {phase} {op.kind} {seconds:.4f}s ok={ok}", file=sys.stderr, flush=True)
        return done

    def window(self, workload, seconds: float) -> list[Done]:
        """Whole decks: as many as fit ``seconds`` at the workload's nominal
        deck duration, at least one."""
        decks = max(1, round(seconds / workload.deck_seconds))
        return [self.run(op, "window") for _ in range(decks) for op in workload.deck()]


def _median(values, scale: float = 1.0) -> float:
    vals = [v for v in values if v is not None]
    return statistics.median(vals) * scale if vals else float("nan")


class LayerMetrics:
    """Per-layer metrics from the spans of a traced run.

    A metric comes from the window's operations when the workload calls
    that layer, else from the probe operations run after the window."""

    def __init__(self, tracer: Tracer, done: list[Done]):
        self.tr = tracer
        self.window = {d.op_id for d in done if d.phase == "window"}
        self.sweep = {d.op_id for d in done if d.phase == "sweep"}
        self.kind = {d.op_id: d.kind for d in done}
        self.roots = {s.op: s for s in tracer.spans if s.parent is None and s.op is not None}

    def _pick(self, pred) -> list:
        for ops in (self.window, self.sweep):
            hit = [s for s in self.tr.spans if s.op in ops and pred(s)]
            if hit:
                return hit
        return []

    def spans(self, *names: str, kinds=None) -> list:
        return self._pick(lambda s: s.name in names and (kinds is None or self.kind[s.op] in kinds))

    def by_op(self, name: str) -> dict[int, list]:
        out: dict[int, list] = {}
        for s in self.spans(name):
            out.setdefault(s.op, []).append(s)
        return out

    def root_attr(self, ops, attr: str) -> float:
        return _median(self.roots[o].attrs.get(attr) for o in ops if o in self.roots)

    def ratio(self, num: tuple[str, ...], den: str) -> float:
        """Median over operations of (sum of ``num`` spans) / ``den`` span."""
        floors = {s.op: s.seconds for s in self.spans(den)}
        vals = []
        for op, d in floors.items():
            n = sum(s.seconds for s in self.tr.spans if s.op == op and s.name in num)
            if n and d:
                vals.append(n / d)
        return _median(vals)

    def compute(self) -> dict[str, tuple[float, str]]:
        m: dict[str, tuple[float, str]] = {}
        read_ops = set(self.by_op("read.action"))
        write_ops = set(self.by_op("write_sql")) | set(self.by_op("upsert_sql"))
        stmt_kinds = {"statement_scan", "point_lookup", "range_lookup"}
        m["read_sql.call_ms"] = (_median((s.seconds for s in self.spans("read_sql")), 1e3), "ms")
        m["read.action_s"] = (_median(s.seconds for s in self.spans("read.action")), "s")
        m["read.partitions"] = (self.root_attr(read_ops, "first_stage_tasks"), "count")
        m["read.tasks_per_op"] = (self.root_attr(read_ops, "tasks"), "count")
        m["read.jobs_per_op"] = (self.root_attr(read_ops, "jobs"), "count")
        m["read.raw_sqlite_s"] = (
            _median(s.seconds for s in self.spans("floor.read") if s.op in read_ops),
            "s",
        )
        m["read.bridge_overhead_x"] = (self.ratio(("read_sql", "read.action"), "floor.read"), "x")
        pushed = [
            s.attrs["rows_transferred_per_row_returned"]
            for s in self._pick(lambda s: "rows_transferred_per_row_returned" in s.attrs)
        ]
        m["read.rows_transferred_per_row_returned"] = (_median(pushed), "x")
        m["read.statement_first_row_ms"] = (
            _median((s.seconds for s in self.spans("floor.first_row", kinds=stmt_kinds)), 1e3),
            "ms",
        )
        m["write_sql.call_s"] = (_median(s.seconds for s in self.spans("write_sql")), "s")
        m["upsert_sql.call_s"] = (_median(s.seconds for s in self.spans("upsert_sql")), "s")
        m["write.partitions"] = (self.root_attr(write_ops, "first_stage_tasks"), "count")
        m["write.tasks_per_op"] = (self.root_attr(write_ops, "tasks"), "count")
        m["write.raw_sqlite_s"] = (_median(s.seconds for s in self.spans("floor.write")), "s")
        m["write.bridge_overhead_x"] = (self.ratio(("write_sql", "upsert_sql"), "floor.write"), "x")
        sized = self._pick(lambda s: "bytes_per_row" in s.attrs)
        m["write.bytes_per_row"] = (_median(s.attrs["bytes_per_row"] for s in sized), "B")
        m["write.bytes_per_user_byte"] = (_median(s.attrs["bytes_per_user_byte"] for s in sized), "x")
        m["rewrite.translate_us"] = (
            _median((s.seconds for s in self.spans("translate_sqlite_sql")), 1e6),
            "us",
        )
        m["sqlite_sql.call_ms"] = (_median((s.seconds for s in self.spans("sqlite_sql")), 1e3), "ms")
        q_ops = set(self.by_op("analytic.exec"))
        m["analytic.plan_ms"] = (_median((s.seconds for s in self.spans("analytic.plan")), 1e3), "ms")
        m["analytic.exec_s"] = (_median(s.seconds for s in self.spans("analytic.exec")), "s")
        m["analytic.stages_per_query"] = (self.root_attr(q_ops, "stages"), "count")
        m["analytic.tasks_per_query"] = (self.root_attr(q_ops, "tasks"), "count")
        m["spark.jobs_per_op"] = (self.root_attr(self.window, "jobs"), "count")
        m["spark.stages_per_op"] = (self.root_attr(self.window, "stages"), "count")
        m["spark.tasks_per_op"] = (self.root_attr(self.window, "tasks"), "count")
        return m


def _print_metric(name: str, value: float, unit: str) -> None:
    print(f"  {name:42s} {value:14.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    fixture_dir = os.path.join(os.getcwd(), "fixture")

    with RssSampler() as rss:
        t0 = time.perf_counter()
        paths = fixtures.build(args.seed, fixture_dir)
        fixture_s = [time.perf_counter() - t0]
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, traced)
            ctx = Ctx(spark, paths, np.random.default_rng(args.seed), tracer)
            workload = WORKLOADS[args.workload](ctx)
            client = Client(tracer)
            t0 = time.perf_counter()
            for op in workload.warmup():
                client.run(op, "warmup")
            warmup_s = time.perf_counter() - t0
            # The repeat builds (same seed, same files) only time set-up; they
            # run after the warm-up so the JVM's background compilation of
            # the warm-up's hot paths can finish before the window.
            for _ in range(FIXTURE_BUILDS - 1):
                t0 = time.perf_counter()
                fixtures.build(args.seed, fixture_dir + "_repeat")
                fixture_s.append(time.perf_counter() - t0)
            shutil.rmtree(fixture_dir + "_repeat")
            print(f"fixture builds {fixture_s}, session {session_s:.3f}s", file=sys.stderr, flush=True)
            window = client.window(workload, args.seconds)
            peak_rss = rss.peak_bytes
            layer: dict[str, tuple[float, str]] = {}
            if traced:
                for name, cls in WORKLOADS.items():
                    if name != args.workload:
                        for op in cls(ctx).probe():
                            client.run(op, "sweep")
                tracer.attach_job_counts()
                layer = LayerMetrics(tracer, client.done).compute()
                for k, v in kernel_probes(paths["db"], ctx.rng).items():
                    layer[k] = (v, "ns")
                tracer.dump(os.path.join(os.getcwd(), "trace.json"))
        finally:
            spark.stop()

    times = [d.seconds for d in window]
    busy = sum(times)
    setup = statistics.median(fixture_s) + session_s + warmup_s
    e2e = {
        "setup_s": setup,
        "ops_per_s": len(window) / busy,
        "op_p50_s": statistics.median(times),
        "rows_per_s": sum(d.rows for d in window) / busy,
        "peak_rss_mb": peak_rss / 2**20,
    }
    print(f"{args.workload}: {len(window)} ops in {busy:.2f} s busy (seed {args.seed})")
    kinds = sorted({d.kind for d in window})
    for k in kinds:
        ks = [d.seconds for d in window if d.kind == k]
        print(f"  op {k:39s} n={len(ks):3d} p50 {statistics.median(ks):.4f} s")
    if traced:
        layer["setup.session_s"] = (session_s, "s")
        layer["setup.fixture_s"] = (statistics.median(fixture_s), "s")
        layer["setup.warmup_s"] = (warmup_s, "s")
        overhead = tracer.overhead_s / len(client.done)
        layer["trace.overhead_ms"] = (overhead * 1e3, "ms")
        layer["trace.overhead_pct"] = (100.0 * overhead / e2e["op_p50_s"], "%")
        layer["trace.op_p50_s"] = (e2e["op_p50_s"], "s")
        for name, (value, unit) in layer.items():
            _print_metric(name, value, unit)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        for name, value in e2e.items():
            _print_metric(name, value, END_TO_END[name])
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    missing = [k for k, v in metrics.items() if v["value"] != v["value"]]
    if missing:
        print(f"no measurement for {missing}", file=sys.stderr)
        return 1
    all_ops = client.done
    failed = sum(1 for d in all_ops if not d.ok)
    result = {"correct": failed == 0, "attempted": len(all_ops), "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
