"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_assign --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see perfbench/README.md). A traced run also writes
its spans and layer rows to perfbench/results/.
"""

from __future__ import annotations

import os

# BLAS threads must be pinned before numpy is first imported anywhere
# in this process (threadpoolctl is not available to clamp them later).
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

MB = 1 << 20
HEAP = "1g"  # driver heap; a larger one keeps growing and makes peak RSS wander

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "pages_per_s": "1/s",
    "increment_p50_s": "s",
    "increment_tail_s": "s",
    "peak_rss_mb": "MB",
    "retained_cache_mb": "MB",
}

LAYERS = (
    "operators.ways", "operators.filters", "operators.assembly",
    "operators.centroids", "operators.geojson", "spatial.covering",
    "spatial.pip_index.build", "spatial.pip_index.join", "spatial.geoparse",
    "spatial.tiles", "spatial.knn", "sources.manifest_table", "plans.incremental",
)
LAYER_FIELDS = {
    "wall_s": "s", "self_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
    "shuffle_bytes": "bytes", "rows_out": "rows",
}
# Layers whose jobs run Python UDFs (mapInPandas / applyInPandas).
PY_LAYERS = (
    "operators.assembly", "operators.centroids", "spatial.covering",
    "spatial.pip_index.join", "spatial.knn", "sources.manifest_table",
)
PY_FIELDS = {"python_s": "s", "arrow_bytes": "bytes"}
PIP_DOMAIN = {
    "index_bytes": "bytes", "index_cells": "count", "ring_points": "count",
    "candidates_per_point": "count", "interior_hit_frac": "frac",
    "refine_groups": "count", "points_per_refine_group": "count",
    "gather_s": "s",
}
RUN_FIELDS = {
    "spill_bytes": "bytes", "tasks_failed": "count",
    "spatial.knn.candidate_pairs_per_probe": "count",
    "traced_wall_s": "s", "untraced_wall_s": "s", "trace_overhead_frac": "frac",
    "layer_self_sum_frac": "frac", "local1_wall_s": "s", "local4_speedup": "x",
    "probe_before_rate": "1/s", "probe_after_rate": "1/s",
}
# pip_increment runs several layers inside one call: its jobs are booked
# by the module Spark records as their call site.
SPLIT = {
    "plans.incremental": {
        "sources.manifest_table": "sources.manifest_table",
        "spatial.pip_index": "spatial.pip_index.join",
        "spatial.geoparse": "spatial.geoparse",
    }
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for layer in LAYERS:
        for f, u in LAYER_FIELDS.items():
            units[f"{layer}.{f}"] = u
        if layer in PY_LAYERS:
            for f, u in PY_FIELDS.items():
                units[f"{layer}.{f}"] = u
    for f, u in PIP_DOMAIN.items():
        units[f"spatial.pip_index.{f}"] = u
    units.update(RUN_FIELDS)
    return units


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; the maximum when there are fewer than 11."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def start_spark(master: str, n: int, work: str, event_log: bool):
    from osm_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The whole heap is committed and touched at start, so the JVM's
        # RSS does not wander with how far the heap has grown at the peak.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = get_spark(app_name="perfbench", master=master, shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Ops:
    """Operations attempted and failed; a pass or an append is one."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, wl, traced: bool, pass_no: int):
        """One pass plus its check; returns the Pass or None if it raised."""
        try:
            if traced:
                wl.tracer.pass_id = f"pass{pass_no}"
                with wl.tracer.span("pass"):
                    p = wl.run_pass(True)
            else:
                p = wl.run_pass(False)
        except Exception:
            n = getattr(wl, "appends_per_pass", 1)
            self.attempted += n
            self.failed += n
            self.errors.append(traceback.format_exc(limit=4))
            return None
        ops = len(p.op_latencies)
        self.attempted += ops
        try:
            bad = wl.check(p, pass_no)
        except Exception:
            bad = [traceback.format_exc(limit=4)]
        if bad:
            self.failed += ops
            self.errors.extend(bad)
        return p


def stop_all(spark) -> None:
    """Stop Spark, then its JVM, then wait for every process this one
    started (the JVM, Python workers, helpers) to end."""
    import subprocess

    from pyspark import SparkContext
    from sysmon import descendants, wait_ended

    try:
        if spark is not None:
            spark.stop()
    finally:
        procs = descendants(os.getpid())
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # The JVM exits once its stdin reaches end of file.
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        wait_ended(procs)


def release(spark, p) -> float:
    """Unpersist what the pass returned; storage bytes still held."""
    from sysmon import storage_bytes

    for df in p.frames:
        df.unpersist(blocking=True)
    return storage_bytes(spark)


def layer_metrics(spans, jobs, n_passes: int):
    """(per-pass layer metrics, layer rows, kNN UDF output rows)."""
    from tracing import layer_rows

    rows = layer_rows(spans, jobs, SPLIT)
    m = {k: 0.0 for k in per_layer_units()}
    wall = sum(r["wall_s"] for r in rows if r["layer"] == "pass")
    self_sum = 0.0
    for r in rows:
        # Layers traced outside the timed passes (the admin set's
        # operators in set-up, kNN after the passes) count once; the
        # layers of the timed passes per pass.
        once = not r["pass_id"].startswith("pass")
        w = 1.0 if once else 1.0 / n_passes
        m["spill_bytes"] += r["spill_bytes"] * w
        m["tasks_failed"] += r["tasks_failed"]
        if r["layer"] == "pass":
            continue
        if not once:
            self_sum += r["self_s"]
        fields = dict(LAYER_FIELDS, **(PY_FIELDS if r["layer"] in PY_LAYERS else {}))
        for f in fields:
            m[f"{r['layer']}.{f}"] += r[f] * w
    m["traced_wall_s"] = wall / n_passes
    m["layer_self_sum_frac"] = self_sum / wall if wall else 0.0
    knn_rows = sum(r["python_rows"] for r in rows if r["layer"] == "spatial.knn")
    return m, rows, knn_rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "osm_spark", "__init__.py")):
        print(f"perfbench: no osm_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import sysmon
    from tracing import Tracer, event_log_file, read_event_log, record_call_sites
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    n_cpu = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP

    # SIGTERM unwinds through the finally below, so the JVM is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    traced = bool(args.trace)
    if traced:
        record_call_sites()
    probe_before = sysmon.probe_rate()
    ops = Ops()
    spark = None
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cpus": n_cpu}
    try:
        t0 = time.perf_counter()
        spark = start_spark(f"local[{n_cpu}]", n_cpu, work, traced)
        tracer = Tracer(spark, args.workload, traced)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, work)
        wl.setup()
        tracer.enabled = False
        warm = ops.run(wl, False, 0)  # untimed warm-up pass
        if warm is not None:
            release(spark, warm)
        setup_s = time.perf_counter() - t0

        walls, rates, lats, kept_bytes = [], [], [], []
        with sysmon.RssSampler(os.getpid()) as rss:
            if traced:  # one untraced pass to measure the tracing cost
                p = ops.run(wl, False, 1)
                untraced_wall = sum(p.op_latencies) if p else float("nan")
                if p:
                    release(spark, p)
                tracer.enabled = True
            # --seconds becomes a fixed pass count through the workload's
            # nominal pass time, so every run of one setting does the
            # same work (a time-bounded loop flips between counts).
            n_passes = max(1, math.ceil(args.seconds / wl.nominal_pass_s))
            for pass_no in range(1 + traced, 1 + traced + n_passes):
                p = ops.run(wl, traced, pass_no)
                if p is not None:
                    walls.append(sum(p.op_latencies))
                    rates.append(p.pages / walls[-1])
                    lats.extend(p.op_latencies)
                    kept_bytes.append(release(spark, p))
        if not walls:
            raise RuntimeError("no pass completed")

        tail_v, tail_p, tail_n = tail(lats)
        record.update(
            setup_s=setup_s, pass_walls=walls, op_latencies=lats,
            increment_tail={"percentile": tail_p, "samples": tail_n},
            rss_at_peak_mb=[round(v / MB, 1) for v in rss.at_peak],
        )
        if not traced:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "pages_per_s": statistics.median(rates),
                "increment_p50_s": statistics.median(lats),
                "increment_tail_s": tail_v,
                "peak_rss_mb": rss.peak / MB,
                "retained_cache_mb": statistics.median(kept_bytes) / MB,
            }
            units = END_TO_END
        else:
            if hasattr(wl, "knn_once"):
                tracer.pass_id = "once"
                ops.attempted += 1
                try:
                    bad = wl.knn_once()
                except Exception:
                    bad = [traceback.format_exc(limit=4)]
                if bad:
                    ops.failed += 1
                    ops.errors.extend(bad)
            domain = wl.domain()
            n_probes = getattr(wl, "n_probes", 0)
            admin = wl.export_admin() if hasattr(wl, "export_admin") else None
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            jobs = read_event_log(event_log_file(os.path.join(work, "eventlog"), app_id))
            metrics, rows, knn_rows = layer_metrics(tracer.spans, jobs, len(walls))
            for f, v in domain.items():
                metrics[f"spatial.pip_index.{f}"] = v
            metrics["spatial.knn.candidate_pairs_per_probe"] = (
                knn_rows / n_probes if n_probes else 0.0
            )
            metrics["untraced_wall_s"] = untraced_wall
            metrics["trace_overhead_frac"] = statistics.median(walls) / untraced_wall - 1
            if admin is not None:
                # Single-thread baseline: the same pass at local[1], on
                # the admin set already built (not timed here).
                spark = start_spark("local[1]", 1, work, False)
                one = WORKLOADS[args.workload](spark, args.seed, Tracer(spark, "", False), work)
                one.setup(admin)
                p = ops.run(one, False, 99)
                if p is not None:
                    metrics["local1_wall_s"] = sum(p.op_latencies)
                    metrics["local4_speedup"] = metrics["local1_wall_s"] / untraced_wall
            record.update(spans=tracer.spans, layer_rows=rows,
                          jobs=[dict(job, id=i) for i, job in sorted(jobs.items())])
            units = per_layer_units()
    except Exception:
        ops.errors.append(traceback.format_exc())
        ops.failed = max(ops.failed, 1)
        ops.attempted = max(ops.attempted, ops.failed)
        metrics, units = {}, {}
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)

    probe_after = sysmon.probe_rate()
    if traced and metrics:
        metrics["probe_before_rate"] = probe_before
        metrics["probe_after_rate"] = probe_after
    record.update(probe_before_rate=probe_before, probe_after_rate=probe_after,
                  attempted=ops.attempted, failed=ops.failed, errors=ops.errors,
                  metrics=metrics)
    os.makedirs(os.path.join(BENCH_DIR, "results"), exist_ok=True)
    out = os.path.join(BENCH_DIR, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for e in ops.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(f"# contention probe: {probe_before:.1f} -> {probe_after:.1f} matmul/s; "
          f"error_rate {ops.failed}/{ops.attempted}; increment tail p{tail_p:.0f} "
          f"of {tail_n} samples" if metrics else "# no metrics")
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    correct = ops.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed,
        "metrics": {k: {"value": (v if math.isfinite(v) else None), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
