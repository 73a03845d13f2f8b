"""The measured process: one Spark session, one workload, a closed loop.

Run by ``run.py``, never by hand:

    python3 spbench/measure.py --workload W --inputs DIR --expect FILE
        --seconds S --trace 0|1 --work DIR --out FILE

One client issues the next op only after the previous one returned and
its output was checked against the DuckDB expectations.  With
``--trace 1`` the session also writes an uncompressed event log, spans
wrap the calls into each layer, and after every op a chain of layer
probes runs (see ``Workload.probes``); the op times of a traced run feed
only ``trace.overhead_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from diagonal_b6_spark import catalog, checkpoint, pipeline  # noqa: E402
from diagonal_b6_spark.operators import cover as cover_ops  # noqa: E402
from diagonal_b6_spark.operators import knn as knn_ops  # noqa: E402
from diagonal_b6_spark.session import get_spark  # noqa: E402

import eventlog  # noqa: E402
import prepare  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402

REGISTER_REPEATS = 3
WARMUP_S = 15.0
CHECKPOINT_READS = 2
MAX_FAILURES = 3


class OpFailed(Exception):
    pass


def expect_eq(what: str, got, want) -> None:
    if got != want:
        raise OpFailed(f"{what}: got {got!r}, expected {want!r}")


class Workload:
    """One workload: register inputs, run one op, probe its layers."""

    def __init__(self, spark, inputs: str, expect: dict, work: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.expect = expect
        self.work = work
        self.images_path = os.path.join(inputs, "images.parquet")

    warmup_ops = 1

    def register(self) -> None:
        """Input registration: resolve the input tables' schemas."""
        self.images = self.spark.read.parquet(self.images_path)
        self.images.schema

    @property
    def rows_per_op(self) -> int:
        return self.expect["images"]

    def op(self, tr) -> None:
        raise NotImplementedError

    # --- layer probes: each forces one layer's output with one action and
    # recomputes the layers it reads, so its self time is its span minus
    # the probe of its input (README.md: "Per-layer metrics").

    def probe_scan(self, tr) -> float:
        with tr.span("probe.scan") as s:
            self.spark.read.parquet(self.images_path).agg(
                F.count("image_id"), F.sum("lat"), F.sum("lng")
            ).collect()
        return s["ms"]

    def probe_cover(self, tr):
        with tr.span("probe.cover") as s:
            pts = cover_ops.with_point_cells(self.spark.read.parquet(self.images_path))
            pts.agg(F.max("cell16"), F.max("bucket")).collect()
        return s["ms"]

    def probe_join(self, tr, strategy: str) -> float:
        with tr.span("probe.spatial_join") as s:
            pts = cover_ops.with_point_cells(self.spark.read.parquet(self.images_path))
            n = pipeline.containment_pipeline(self.spark, pts, strategy=strategy).count()
        expect_eq("probe containment_pairs", n, self.expect["containment_pairs"])
        return s["ms"]

    def probe_tiles(self, tr) -> float:
        with tr.span("probe.tiles") as s:
            t = pipeline.tile_assignments(self.spark.read.parquet(self.images_path))
            ck = t.agg(F.sum(F.col("tile_x") + F.col("tile_y"))).collect()[0][0]
        expect_eq("probe tile_checksum", ck, self.expect["tile_checksum"])
        return s["ms"]

    def probes(self, tr) -> dict:
        return {}


class Flagship(Workload):
    """One op: the flagship pipeline and its checkpoint.  ``run_flagship``
    with the bucketed, salted containment join over a table with a hot
    spot in fixture area 1, then a tile snapshot write and
    CHECKPOINT_READS reads, each rolled up into the z16..z12 tile pyramid.
    The snapshot is partitioned by a copy of ``zoom``: ``read_snapshot``
    reads partition directories without the partition column, and the
    rollup needs it."""

    n_ops = 0

    def op(self, tr) -> None:
        self.n_ops += 1
        root = os.path.join(self.work, "ckpt", f"{os.getpid()}-{self.n_ops}")
        with tr.span("op"):
            c = pipeline.run_flagship(
                self.spark, self.rows_per_op, strategy="bucketed", images_path=self.images_path
            )
            with tr.span("checkpoint.write"):
                tiles = pipeline.tile_assignments(self.spark.read.parquet(self.images_path))
                m = checkpoint.write_snapshot(tiles.withColumn("part", F.col("zoom")), root, "part")
            reads = []
            for _ in range(CHECKPOINT_READS):
                with tr.span("checkpoint.read"):
                    snap = checkpoint.read_snapshot(self.spark, root)
                    rollup = pipeline.tile_pyramid_rollup(
                        snap, max(prepare.TILE_ZOOMS), prepare.ROLLUP_MIN_ZOOM
                    )
                    reads.append(tuple(rollup.agg(F.count("*"), F.sum("n")).collect()[0]))
        shutil.rmtree(root, ignore_errors=True)
        check_flagship(c, self.expect)
        expect_eq("snapshot rows", sum(p["rows"] for p in m.partitions.values()), self.expect["snapshot_rows"])
        for got in reads:
            expect_eq(
                "rollup (tiles, points)",
                got,
                (self.expect["rollup_rows"], self.expect["rollup_points"]),
            )

    def probes(self, tr) -> dict:
        scan = self.probe_scan(tr)
        cover = self.probe_cover(tr)
        join = self.probe_join(tr, "bucketed")
        with tr.span("probe.knn") as s:
            dist = knn_ops.nearest_dist_expr(pipeline.poi_list(self.spark))
            ck = (
                self.spark.read.parquet(self.images_path)
                .agg(F.sum(F.round(dist, 3)))
                .collect()[0][0]
            )
        check_knn(ck, self.expect)
        tiles = self.probe_tiles(tr)
        return {
            "scan.ms": scan,
            "cover.ms": cover - scan,
            "spatial_join.ms": join - cover,
            "knn.ms": s["ms"] - scan,
            "pipeline.tiles_ms": tiles - scan,
        }


def check_knn(ck, expect: dict) -> None:
    if ck is None or abs(ck - expect["knn_checksum"]) > prepare.KNN_ABS_TOL:
        raise OpFailed(f"knn_checksum: got {ck!r}, expected {expect['knn_checksum']!r}")


def check_flagship(c: dict, expect: dict) -> None:
    expect_eq("containment_pairs", c["containment_pairs"], expect["containment_pairs"])
    expect_eq("tile_rows", c["tile_rows"], expect["images"] * len(prepare.TILE_ZOOMS))
    expect_eq("tile_checksum", c["tile_checksum"], expect["tile_checksum"])
    check_knn(c["knn_checksum"], expect)


class Headline(Workload):
    """One op: one round of the 12 headline queries, each forced with
    ``count()`` (bench.py's protocol) and its row count checked against
    the count of its ``catalog.ORACLES`` SQL.  Round times keep falling
    after the first round, so two rounds warm up."""

    warmup_ops = 2

    def register(self) -> None:
        for t in prepare.HEADLINE_TABLES:
            self.spark.read.parquet(os.path.join(self.inputs, f"{t}.parquet")).schema

    @property
    def rows_per_op(self) -> int:
        import pyarrow.parquet as pq

        if not hasattr(self, "_rows"):
            self._rows = sum(
                pq.ParquetFile(os.path.join(self.inputs, f"{t}.parquet")).metadata.num_rows
                for t in prepare.HEADLINE_TABLES
            )
        return self._rows

    def op(self, tr) -> None:
        got = {}
        with tr.span("op"):
            for key in prepare.HEADLINE:
                with tr.span(f"catalog.{key}"):
                    got[key] = catalog.QUERIES[key](self.spark, self.inputs).count()
        catalog.release_caches()
        for key, n in got.items():
            expect_eq(f"{key} rows", n, self.expect["rows"][key])


WORKLOADS = {"flagship": Flagship, "headline": Headline}


def _socket_dir(path: str) -> str:
    """A unix socket path holds at most 107 bytes and PySpark names its
    sockets ``.<uuid4>.sock`` (42 bytes): fall back to a path relative
    to the working directory, which every Spark process shares, when the
    absolute one is too long."""
    return path if len(path) + 43 <= 107 else os.path.relpath(path)


def spark_conf(work: str, trace: bool) -> dict:
    """Settings on top of ``session.get_spark``: keep every temp file
    under the work dir, and log events when tracing.  No heap, JIT or GC
    option is set; the two JVM options only move or disable temp files."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.python.unix.domain.socket.dir": _socket_dir(os.path.join(work, "s")),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog", str(os.getpid())),
            }
        )
    for key in ("spark.local.dir", "spark.python.unix.domain.socket.dir"):
        os.makedirs(conf[key], exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    if trace:
        os.makedirs(conf["spark.eventLog.dir"][len("file://"):], exist_ok=True)
    return conf


def measure(args) -> dict:
    with open(args.expect) as f:
        expect = json.load(f)
    trace = bool(args.trace)
    conf = spark_conf(args.work, trace)
    t0 = time.perf_counter()
    spark = get_spark(f"spbench-{args.workload}", cores=args.cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.inputs, expect, args.work)
    register_s = []
    for _ in range(REGISTER_REPEATS):
        t0 = time.perf_counter()
        wl.register()
        register_s.append(time.perf_counter() - t0)
    tr = Tracer() if trace else NullTracer()
    attempted, failures = 0, []

    def one_op(tracer) -> float | None:
        nonlocal attempted
        attempted += 1
        t0 = time.perf_counter()
        try:
            wl.op(tracer)
        except OpFailed as e:
            failures.append(str(e))
            return None
        except Exception as e:  # an engine error is a failed op, recorded
            failures.append(f"{type(e).__name__}: {str(e)[:500]}")
            return None
        return (time.perf_counter() - t0) * 1000.0

    # warm-up: JIT, code cache, file listing.  Op times keep falling for
    # several seconds of ops, so warm up for WARMUP_S and at least
    # `warmup_ops` ops; untraced, so that traced medians are of timed ops.
    t0 = time.perf_counter()
    n = 0
    while n < wl.warmup_ops or time.perf_counter() - t0 < WARMUP_S:
        one_op(NullTracer())
        n += 1
        if len(failures) >= MAX_FAILURES:
            break
    warmup_s = time.perf_counter() - t0
    op_ms, probe_ms = [], []
    start = time.perf_counter()
    while time.perf_counter() - start < args.seconds and len(failures) < MAX_FAILURES:
        ms = one_op(tr)
        if ms is not None:
            op_ms.append(ms)
        if trace and ms is not None:
            attempted += 1
            try:
                probe_ms.append(wl.probes(tr))
            except OpFailed as e:
                failures.append(str(e))
            except Exception as e:  # as for ops: recorded, not raised
                failures.append(f"probe {type(e).__name__}: {str(e)[:500]}")
    rows_per_op = wl.rows_per_op
    spark.stop()
    out = {
        "workload": args.workload,
        "trace": trace,
        "session_s": session_s,
        "register_s": register_s,
        "warmup_s": warmup_s,
        "setup_s": session_s + statistics.median(register_s) + warmup_s,
        "op_ms": op_ms,
        "rows_per_op": rows_per_op,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures[:10],
    }
    if trace:
        log_dir = conf["spark.eventLog.dir"][len("file://"):]
        out["layers"] = layer_metrics(tr, probe_ms, log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)
    return out


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(tr: Tracer, probe_ms: list[dict], log_dir: str) -> dict:
    """Per-layer metrics of a traced run, each a median over ops."""
    log = eventlog.EventLog(eventlog.read_events(log_dir))
    ops = tr.named("op")
    counts = [eventlog.layer_counts(log.window(s["t0"], s["t1"])) for s in ops]
    out = {k: _median(c[k] for c in counts) for k in (counts[0] if counts else {})}
    for key in ("scan.ms", "cover.ms", "spatial_join.ms", "knn.ms", "pipeline.tiles_ms"):
        out[key] = _median(p[key] for p in probe_ms if key in p)
    writes = tr.named("checkpoint.write")
    wcounts = [eventlog.write_counts(log.window(s["t0"], s["t1"])) for s in writes]
    for key in ("checkpoint.commit_ms", "checkpoint.jobs_per_write", "checkpoint.bytes_per_row"):
        out[key] = _median(c[key] for c in wcounts)
    tiles = _median(p["pipeline.tiles_ms"] + p["scan.ms"] for p in probe_ms if "pipeline.tiles_ms" in p)
    out["checkpoint.write_ms"] = _median(s["ms"] for s in writes) - tiles if writes else 0.0
    out["checkpoint.read_ms"] = _median(s["ms"] for s in tr.named("checkpoint.read"))
    for key in prepare.HEADLINE:
        spans = tr.named(f"catalog.{key}")
        out[f"catalog.{key}.ms"] = _median(tr.self_ms(s) for s in spans)
        out[f"catalog.{key}.jobs"] = _median(log.window(s["t0"], s["t1"]).jobs for s in spans)
    out["traced_op_ms"] = [s["ms"] for s in ops]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--expect", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = measure(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
