"""Benchmark entry point.

    python3 perfbench/run.py --workload curate_docs --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seeded inputs under a
per-run scratch directory (``.perfbench/run-*``, deleted afterwards),
starts one fresh worker process (perfbench/worker.py) pinned to this
box, samples the resident memory of that process tree, checks the
outputs, prints a human-readable report and, as the last line of
stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (and writes the spans to ``.perfbench/traces/``). Exits
non-zero, without a JSON line, when the worker fails, and non-zero
after the JSON line when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

import gen
import metrics as M
from tracing import summarize

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curate_docs", "serve_mixed")
TIME_LIMIT_S = 170.0
DRIVER_MEM = "2g"  # the engine's 48g default heap does not fit a 15 GiB box


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants, summed
    as proportional set size so pages that forked Python workers share
    with their parent are counted once."""

    def __init__(self, pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_kb = 0
        self._halt = threading.Event()

    def _tree_rss_kb(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    total += next(int(x.split()[1]) for x in fh if x.startswith("Pss:"))
            except (OSError, IndexError, ValueError, StopIteration):
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._halt.wait(self.every_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole session (the JVM can outlive its Python
    parent for a moment) and wait until no member is left."""
    for _ in range(100):
        try:
            os.killpg(proc.pid, 9)
        except ProcessLookupError:
            break
        if proc.poll() is None:
            proc.wait()
        time.sleep(0.1)


def _generate(workload: str, seed: int, seconds: float, scale: float, root: str) -> dict:
    import serve

    sizes = gen.scaled(gen.WORKLOAD_SIZES[workload], scale)
    sf_dir = os.path.join(root, "sf")
    inputs = gen.generate(sf_dir, seed, sizes)
    if workload == "serve_mixed":
        gen.serve_extras(
            inputs, root, seed, n_deltas=serve.n_deltas(seconds),
            delta_rows=serve.DELTA_ROWS, n_query_batches=64,
        )
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump({"dup_pairs": inputs.dup_pairs}, fh)
    return {"hash": gen.content_hash(root), "sizes": sizes.__dict__}


def _fmt(x: float) -> str:
    return f"{x:.6g}" if isinstance(x, float) else str(x)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (the tests use 1/50)")
    args = ap.parse_args()
    if args.seconds <= 0 or args.scale <= 0:
        ap.error("--seconds and --scale must be positive")
    # a terminated run still stops its worker and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    begin = time.time()
    checkout = os.getcwd()
    for need in ("big_data_project_implementation_spark/__init__.py",
                 "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(checkout, need)):
            print(f"perfbench: {need} not found under {checkout}; run from the "
                  "repository root", file=sys.stderr)
            return 2

    base = os.path.join(checkout, ".perfbench")
    root = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    try:
        return _run(args, checkout, base, root, begin)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _run(args, checkout: str, base: str, root: str, begin: float) -> int:
    nproc = _nproc()
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # keep the JVM's own temp files inside the run directory too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([checkout, os.path.join(checkout, "tools")]),
    })
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(root, d))
    # inputs are generated before the worker starts, so no metric counts them
    g0 = time.time()
    inputs = _generate(args.workload, args.seed, args.seconds, args.scale, root)
    gen_s = time.time() - g0
    log_path = os.path.join(root, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--scratch", root, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=checkout, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        w0 = time.time()
        rss = RssSampler(proc.pid)
        rss.start()
        try:
            rc = proc.wait(timeout=max(10.0, TIME_LIMIT_S - (time.time() - begin)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _kill_group(proc)
            rss.stop()
            worker_s = time.time() - w0
    result_path = os.path.join(root, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-6000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: worker {why}; log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)

    values = res["values"]
    values["peak_rss_mb"] = rss.peak_kb / 1024.0
    attempted, failed = res["attempted"], res["failed"]
    values["error_rate"] = failed / max(attempted, 1)
    correct = failed == 0  # a failed check counts as a failed operation
    wanted = M.PER_LAYER if args.trace else M.END_TO_END
    out_metrics = {
        m.name: {"value": float(values.get(m.name, 0.0)), "unit": m.unit} for m in wanted
    }
    info = res["info"]
    env_info = {
        "nproc": nproc, "mem_total_kb": _mem_total_kb(),
        "python": platform.python_version(), **info.pop("versions", {}),
        "driver_mem": DRIVER_MEM,
    }
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} scale={args.scale}")
    print(f"# environment {json.dumps(env_info, sort_keys=True)}")
    print(f"# inputs hash={inputs['hash']} sizes={json.dumps(inputs['sizes'])} "
          f"(generated in {gen_s:.1f}s, excluded from every metric)")
    for c in res["checks"]:
        print(f"# check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for name, xs in sorted(info.get("samples_ms", {}).items()):
        s = summarize(xs)
        tail = f" p{s['tail_p']:g}={s['tail']:.1f}" if "tail" in s else " (too few samples for a tail)"
        if xs:
            print(f"# samples {name}: n={s['n']} p50={s['p50']:.1f} ms{tail}"
                  f" all={[round(x) for x in xs]}")
    for m in M.END_TO_END + M.REPORT_ONLY + (M.PER_LAYER if args.trace else ()):
        if m.name in values:
            print(f"# metric {m.name} = {_fmt(values[m.name])} {m.unit} ({m.better} is better)")
    print(f"# wall: generate {gen_s:.1f}s, worker {worker_s:.1f}s, total {time.time() - begin:.1f}s")
    print(f"# attempted={attempted} failed={failed} "
          f"info={json.dumps({k: v for k, v in info.items() if k != 'samples_ms'})}")
    if args.trace:
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"values": values, "self_times_s": res["self_times_s"],
                       "spans": res["spans"]}, fh)
        for name, s in sorted(res["self_times_s"].items(), key=lambda kv: -kv[1]):
            print(f"# self_time {name} = {s:.4f} s")
        print(f"# spans written to {os.path.relpath(path, checkout)}")
        print(f"# tracing overhead: {values.get('tracing.overhead_s', 0.0):.3f}s collecting;"
              " the end-to-end lines above are traced figures, compare them with an"
              " untraced run of the same seed")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
