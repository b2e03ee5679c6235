"""One benchmark run inside a fresh process (started by run.py).

Reads the inputs run.py generated under ``--scratch`` before starting
this process, starts the engine's session, runs one workload and writes
``result.json`` there. The clock for ``setup_s`` starts when this
process starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

PROCESS_START = time.time()

from big_data_project_implementation_spark import get_session  # noqa: E402

import tracing as T  # noqa: E402


@dataclass
class Run:
    """State one workload run shares between its threads."""

    spark: object
    sf_dir: str
    scratch: str
    seed: int
    seconds: float
    tracer: T.Tracer
    values: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    engine: dict = field(default_factory=dict)
    engine_ops: int = 0
    by_name: dict = field(default_factory=dict)
    overhead_s: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock)
    _ops: int = 0

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record one correctness check; a failed check is a wrong op."""
        with self.lock:
            self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
            self.attempted += 1
            if not ok:
                self.failed += 1
        return ok

    def measured(self, name: str, fn):
        """Run one measured operation; returns (result, seconds) or
        (None, seconds) when it raised. Traced runs wrap it in a span
        and a job group whose status-store counters are added to the
        run's engine totals."""
        with self.lock:
            self._ops += 1
            group = f"op-{self._ops}"
        sc = self.spark.sparkContext
        if self.tracing:
            sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            with self.tracer.span(name, group):
                out = fn()
            ok = True
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            out, ok = None, False
        t1 = time.time()
        if self.tracing:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.add_engine(name, group, (t0, t1))
        with self.lock:
            self.attempted += 1
            self.failed += 0 if ok else 1
        return out, t1 - t0

    def add_engine(self, name: str, group: str, wall: tuple[float, float]) -> None:
        c0 = time.perf_counter()
        got = T.engine_counters(self.spark, group, wall)
        with self.lock:
            mine = self.by_name.setdefault(name, {"ops": 0})
            mine["ops"] += 1
            for k, v in got.items():
                self.engine[k] = self.engine.get(k, 0.0) + v
                mine[k] = mine.get(k, 0.0) + v
            self.engine_ops += 1
            self.overhead_s += time.perf_counter() - c0

    def traced_extra(self, fn):
        """Run tracing-only bookkeeping, counting its time as overhead."""
        c0 = time.perf_counter()
        try:
            return fn()
        finally:
            with self.lock:
                self.overhead_s += time.perf_counter() - c0

    def engine_values(self, wall_s: float) -> dict:
        """Per-operation engine metrics over the measured operations."""
        e, n = self.engine, max(self.engine_ops, 1)
        per_op = {
            k: e.get(k, 0.0) / n
            for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                      "driver_gap_s")
        }
        out = {f"engine.{k}": v for k, v in per_op.items()}
        out["engine.core_busy"] = e.get("task_s", 0.0) / (wall_s * (os.cpu_count() or 1))
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t0 = time.time()
    spark = get_session(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.scratch, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    run = Run(
        spark=spark,
        sf_dir=os.path.join(args.scratch, "sf"),
        scratch=args.scratch,
        seed=args.seed,
        seconds=args.seconds,
        tracer=T.Tracer(enabled=bool(args.trace)),
    )
    run.values["session.start_s"] = time.time() - t0
    if args.workload == "curate_docs":
        import curate as workload
    else:
        import serve as workload
    info = workload.run(run, setup_clock=PROCESS_START)
    info["versions"] = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    if run.tracing:
        run.values["tracing.overhead_s"] = run.overhead_s
    result = {
        "values": run.values,
        "checks": run.checks,
        "attempted": run.attempted,
        "failed": run.failed,
        "info": info,
        "self_times_s": run.tracer.self_times(),
        "spans": run.tracer.as_records(),
    }
    with open(os.path.join(args.scratch, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
