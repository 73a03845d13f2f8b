"""Benchmark entry point for the spatial engine.

    python3 spbench/run.py --workload {flagship,headline}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run:

1. preflight: checks /proc/meminfo for the Spark driver heap, checks free disk,
   and keeps every temp file under ``.spbench_work/`` in the checkout;
2. prepares the seeded inputs and their DuckDB expectations (cached);
3. measures in a child process (``measure.py``) on ``local[<nproc>]``,
   sampling the summed resident memory of that process, its JVM and
   its Python workers;
4. with ``--trace 1``, measures in a traced child instead and reports
   the per-layer metrics;
5. stops every process it started, appends the record to
   ``.spbench_work/results.jsonl`` (read by ``summary.py``) and prints
   one JSON object as the last line of standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".spbench_work")
sys.path[:0] = [ROOT, HERE]
WORKLOADS = ("flagship", "headline")
RUN_BUDGET_S = 170.0
# Driver heap: a fixed size, so peak RSS does not follow the host's free
# memory; the preflight refuses to run when the host cannot spare it.
DRIVER_MEM_MB = 1536
MIN_FREE_DISK_MB = 2048
RSS_SAMPLE_S = 0.5

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "ms": "ms",
    "rows": "count",
    "bytes": "bytes",
    "python_ms": "ms",
    "arrow_bytes": "bytes",
    "candidates": "count",
    "pairs": "count",
    "selectivity": "ratio",
    "shuffle_bytes": "bytes",
    "fetch_wait_ms": "ms",
    "refine_python_ms": "ms",
    "skew": "ratio",
    "tiles_ms": "ms",
    "write_ms": "ms",
    "commit_ms": "ms",
    "jobs_per_write": "count",
    "bytes_per_row": "bytes",
    "read_ms": "ms",
    "jobs": "count",
    "cpu_ms": "ms",
    "gc_ms": "ms",
    "spill_bytes": "bytes",
    "overhead_ratio": "ratio",
}


class PreflightError(RuntimeError):
    pass


def meminfo_mb() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def preflight() -> dict:
    """Fail fast, naming the shortfall, before any process starts."""
    try:
        import diagonal_b6_spark  # noqa: F401
    except ImportError as e:
        raise PreflightError(f"engine package not importable from {ROOT}: {e}") from e
    avail = meminfo_mb()["MemAvailable"]
    # heap, JVM off-heap and Python workers (README.md: peak_rss_mb)
    need = 2 * DRIVER_MEM_MB + 1024
    if avail < need:
        raise PreflightError(f"memory: {avail} MB available, need {need} MB")
    os.makedirs(WORK, exist_ok=True)
    free = shutil.disk_usage(WORK).free // (1 << 20)
    if free < MIN_FREE_DISK_MB:
        raise PreflightError(f"disk: {free} MB free under {WORK}, need {MIN_FREE_DISK_MB} MB")
    return {"cores": len(os.sched_getaffinity(0)), "driver_mem_mb": DRIVER_MEM_MB}


class ProcessTree:
    """The measured child and every process it starts.  PySpark's worker
    daemon moves into a process group of its own, so the tree is followed
    by parent pid, and every process group seen in it is remembered for
    the final stop."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.groups = {root}

    @staticmethod
    def _table() -> dict[int, tuple[int, int]]:
        procs = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                procs[int(name)] = (int(fields[1]), int(fields[2]))
        return procs

    def pids(self) -> list[int]:
        procs = self._table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, stack = [], [self.root]
        while stack:
            pid = stack.pop()
            if pid in procs:
                out.append(pid)
                self.groups.add(procs[pid][1])
                stack.extend(children.get(pid, []))
        return out

    def rss_mb(self) -> dict:
        """Summed anonymous resident memory of the tree (RSS without the
        file-backed pages: shared libraries and mapped files are the same
        pages in every process), in total and per program name.  Read
        from ``statm``: ``smaps``-based sizes walk every mapping under the
        address-space lock and slowed the measured JVM."""
        page = os.sysconf("SC_PAGE_SIZE") / (1 << 20)
        out = {"total": 0.0}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    _, resident, shared = (int(v) for v in f.read().split()[:3])
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, ValueError):
                continue
            mb = (resident - shared) * page
            out["total"] += mb
            out[comm] = out.get(comm, 0.0) + mb
        return out

    def _alive(self) -> bool:
        procs = self._table()
        return any(pgid in self.groups for _, pgid in procs.values())

    def stop(self) -> None:
        """SIGTERM, then SIGKILL, every process group seen in the tree;
        return once none of their processes is left."""
        self.pids()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not self._alive():
                return
            for pgid in self.groups:
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
            while time.monotonic() < deadline and self._alive():
                time.sleep(0.1)
        if self._alive():
            raise RuntimeError(f"processes of groups {sorted(self.groups)} survived SIGKILL")


def run_child(workload, inputs, seconds, trace, sys_info, deadline) -> dict:
    out = os.path.join(WORK, f"result-{os.getpid()}-{int(trace)}.json")
    log = os.path.join(WORK, f"child-{workload}-{int(trace)}.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_DRIVER_MEMORY": f"{sys_info['driver_mem_mb']}m",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "measure.py"),
        "--workload", workload,
        "--inputs", inputs,
        "--expect", os.path.join(inputs, "expect.json"),
        "--seconds", str(seconds),
        "--trace", str(int(trace)),
        "--cores", str(sys_info["cores"]),
        "--work", WORK,
        "--out", out,
    ]
    if os.path.exists(out):
        os.remove(out)
    peak = {"total": 0.0}
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True
        )
        tree = ProcessTree(proc.pid)
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{workload} child exceeded the run budget")
                rss = tree.rss_mb()
                if rss["total"] > peak["total"]:
                    peak = rss
                time.sleep(RSS_SAMPLE_S)
        finally:
            tree.stop()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{workload} child exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    res["peak_rss_mb"] = peak.pop("total")
    res["peak_rss_parts"] = peak
    return res


def end_to_end(res: dict) -> dict:
    from stats import rows_per_s

    return {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(res["op_ms"]),
        "rows_per_s": rows_per_s(res["rows_per_op"], res["op_ms"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def recorded_op_p50(workload: str) -> list[float]:
    """op_p50_ms of the correct untraced runs recorded in this checkout."""
    try:
        with open(os.path.join(WORK, "results.jsonl")) as f:
            records = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    return [
        r["metrics"]["op_p50_ms"]["value"]
        for r in records
        if r["workload"] == workload and r["trace"] == 0 and r["correct"]
    ]


def per_layer(untraced_op_ms: float, traced: dict) -> dict:
    layers = dict(traced["layers"])
    traced_ms = layers.pop("traced_op_ms")
    layers["trace.overhead_ratio"] = (
        statistics.median(traced_ms) / untraced_op_ms if traced_ms else 0.0
    )
    return layers


def top_layers(workload: str, layers: dict) -> list[str]:
    """The three most expensive layers by time: engine layers for the
    pipelines, catalog queries for the headline."""
    if workload == "headline":
        keys = [k for k in layers if k.startswith("catalog.") and k.endswith(".ms")]
    else:
        keys = ["scan.ms", "cover.ms", "spatial_join.ms", "knn.ms", "pipeline.tiles_ms",
                "checkpoint.write_ms", "checkpoint.read_ms"]
    ranked = sorted(keys, key=lambda k: -layers.get(k, 0.0))
    return [k for k in ranked[:3] if layers.get(k, 0.0) > 0]


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    return PER_LAYER_UNITS[name.rsplit(".", 1)[1]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through run_child's cleanup like an error would
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_BUDGET_S
    try:
        sys_info = preflight()
    except PreflightError as e:
        print(f"spbench: preflight failed: {e}", file=sys.stderr)
        return 2
    import prepare

    inputs, expect = prepare.prepare(args.workload, args.seed, WORK, sys_info["cores"])
    if args.trace:
        # the untraced op time trace.overhead_ratio divides by: the
        # untraced runs already recorded in this checkout, else an
        # untraced child run for half the seconds
        baseline = recorded_op_p50(args.workload)
        children = []
        if not baseline:
            children.append(run_child(args.workload, inputs, args.seconds / 2, False, sys_info, deadline))
            baseline = [statistics.median(children[0]["op_ms"])]
        seconds = args.seconds / 2 if children else args.seconds
        traced = run_child(args.workload, inputs, seconds, True, sys_info, deadline)
        children.append(traced)
        metrics = per_layer(statistics.median(baseline), traced)
        top = top_layers(args.workload, metrics)
        print(f"top layers ({args.workload}): {', '.join(top)}")
    else:
        children = [run_child(args.workload, inputs, args.seconds, False, sys_info, deadline)]
        metrics = end_to_end(children[0])
        top = []
    attempted = sum(c["attempted"] for c in children)
    failed = sum(c["failed"] for c in children)
    for c in children:
        for msg in c["failures"]:
            print(f"failed op: {msg}", file=sys.stderr)
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    record = dict(
        result, workload=args.workload, seed=args.seed, trace=args.trace, time=time.time(),
        top_layers=top, prepare_s=expect.get("prepare_s"), op_ms=children[-1]["op_ms"],
        peak_rss_parts=children[-1]["peak_rss_parts"],
        setup_parts={k: children[-1][k] for k in ("session_s", "register_s", "warmup_s")},
    )
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
