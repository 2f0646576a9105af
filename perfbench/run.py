"""Benchmark of the gridded ETL engine, run from the root of a checkout.

    python3 perfbench/run.py --workload etl_lifecycle --seed 1 --seconds 10 --trace 0

Workloads (one client, a closed loop, ``local[<cores>]``):

* ``etl_lifecycle`` — the publish job: seeded daily NetCDF3 provider files →
  ``read_binary_gridded`` + ``netcdf3_decoder`` → ``canonicalize`` →
  ``GridStore.write_initial`` → daily ``update`` calls (re-issue the last
  preliminary days, append one) → a backfill ``update`` → the ``qc``
  post-parse checks → ``GridStore.export_zarr``. Run once, then again on a
  fresh store while another lifecycle is expected to end within ``--seconds``;
  with the default sizes one lifecycle outlasts ``--seconds`` on 4 cores.
* ``grid_reads`` — consumers reading a published store: set-up publishes it
  through the same initial write and a daily update, then a seeded mix of
  point reads, 30-day window aggregates, seasonal ``coarsen`` and
  whole-history climate operators runs in whole blocks until at least
  ``MIN_READS`` reads are done and ``--seconds`` have passed.

Every timed output is checked against a numpy truth grid, outside the timed
interval. With ``--trace 0`` the last stdout line carries the end-to-end
metrics: set-up time, live files per time bucket and stored bytes per cell.
With ``--trace 1`` it carries the per-layer metrics, folded from Spark's
event log of job-grouped calls. The line before it is a readable report:
wall-clock latencies and throughput under the workload's own names, CPU of
the process tree less JIT compilation per timed call, the host block with
the share of CPU time the hypervisor stole during the timed phase and, when
tracing, plan fingerprints.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import grid  # noqa: E402
import harness  # noqa: E402

#: end-to-end metric → (unit, better); the workload's meaning in comments.
#: Latencies and CPU per call are not among them: on a shared 4-vCPU VM they
#: follow the neighbours' load (a read's median doubled at 19 % steal, and
#: CPU per read spread 21 % over ten runs), beyond the largest bound a gate
#: may have, so they go to the report line with the steal share of the run.
END_TO_END = {
    "setup_s": ("s", "lower"),  # session, inputs, store build, warm-up
    "files_per_bucket": ("count", "lower"),  # live data files per time bucket
    "bytes_per_cell": ("B", "lower"),  # bytes under the store per live cell
}

_E, _R = "etl_lifecycle", "grid_reads"
#: per-layer metric → (unit, better, the metrics and workload it should move;
#: all but files_per_bucket are on the report line)
PER_LAYER = {
    "ingest.decode_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "ingest.cells_per_s": ("1/s", "higher", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "ingest.executor_cpu_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "store.write_initial_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "store.update_s": ("s", "lower", f"update_p50_s, cpu_ms_per_op@{_E}"),
    "store.backfill_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "store.jobs_per_update": ("count", "lower", f"update_p50_s, cpu_ms_per_op@{_E}"),
    "store.driver_gap_s": ("s", "lower", f"update_p50_s, cpu_ms_per_op@{_E}"),
    "store.files_written": ("count", "lower", f"update_p50_s, cpu_ms_per_op@{_E}"),
    "store.bytes_written": ("B", "lower", f"update_p50_s, cpu_ms_per_op@{_E}"),
    "store.write_amp": ("ratio", "lower", f"update_p50_s, cpu_ms_per_op@{_E}"),
    "store.live_files": ("count", "lower", f"files_per_bucket, read_p50_ms@{_R}"),
    "store.time_sliced_s": ("s", "lower", f"read_p50_ms, cpu_ms_per_op@{_R}"),
    "store.files_scanned_per_read": ("count", "lower", f"read_p50_ms, cpu_ms_per_op@{_R}"),
    "qc.check_dtype_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "qc.sample_value_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "qc.nan_binomial_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "qc.compare_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "zarr2.export_s": ("s", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "zarr2.chunks_written": ("count", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "zarr2.bytes_written": ("B", "lower", f"etl_cells_per_s, cpu_ms_per_op@{_E}"),
    "read.point_s": ("s", "lower", f"read_p50_ms, cpu_ms_per_op@{_R}"),
    "read.window_s": ("s", "lower", f"read_p50_ms, cpu_ms_per_op@{_R}"),
}
for _op in ("climatology", "anomaly", "coarsen", "resample_time", "rolling_time_agg"):
    PER_LAYER[f"climate.{_op}_s"] = ("s", "lower", f"read_p75_ms, cpu_ms_per_op@{_R}")
    PER_LAYER[f"climate.{_op}_shuffle_write_mb"] = ("MB", "lower", f"read_p75_ms, cpu_ms_per_op@{_R}")
for _m, _u in (("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
               ("executor_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
               ("spill_mb", "MB"), ("driver_gap_s", "s")):
    PER_LAYER[f"spark.{_m}"] = (_u, "lower", "every end-to-end metric@both")
PER_LAYER["trace.overhead_pct"] = ("%", "lower", "none: traced against untraced time")
# the JVM grows its heap when the collector decides to, so this spreads too
# widely between runs for an end-to-end bound
PER_LAYER["host.peak_rss_mb"] = ("MB", "lower", "none: memory of driver Python plus the JVM")

#: seed offset for the throwaway warm-up inputs, so they never equal the timed ones
WARM_SEED = 1_000_003
#: the input generator runs this many times in set-up; setup_s counts its median
GEN_REPEATS = 3
#: untimed blocks of the read mix before grid_reads starts timing; the JIT
#: is still compiling read paths after one pass over the seven read kinds
WARM_BLOCKS = 1
#: grid_reads never stops before this many reads, so ten lie beyond p75;
#: a hundred, for ten beyond p90, would not fit the run budget
MIN_READS = 40


def quantiles_ms(secs: list[float]) -> dict[str, float]:
    return {f"p{q}": harness.quantile(secs, q / 100) * 1000 for q in (10, 25, 50, 75)}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical RAM, capped at 4 GiB: the host is shared."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, phys // 4 // 2**30))}g"


class Run:
    """State of one benchmark process: session, work dir, tracer, results."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.cores = host_cores()
        self.memory = driver_memory()
        t0 = time.perf_counter()
        self.spark = harness.start_session(work, self.cores, self.memory, bool(args.trace))
        self.session_s = time.perf_counter() - t0
        self.tracer = harness.Tracer(self.spark, enabled=False)
        self.traced = harness.Tracer(self.spark, enabled=True)
        self.attempted = 0
        self.failed = 0
        self.shuffle_partitions = None
        self.plans: dict[str, set[str]] = {}
        self.setup_parts: dict[str, float] = {}
        self.jiffies0 = (0, 0)

    def start_timing(self) -> None:
        """Mark the start of the timed phase, for the host's steal share."""
        self.jiffies0 = harness.cpu_jiffies()
        self.tracer.work_cpu = harness.WorkCpu()

    def tracer_for(self, k: int):
        """The tracer for round ``k`` of the timed loop: untraced, or, when
        tracing, traced on odd rounds so both halves see the same work."""
        return self.traced if self.args.trace and k % 2 else self.tracer

    def read_back_partitions(self) -> None:
        if self.shuffle_partitions is None:
            self.shuffle_partitions = self.spark.conf.get("spark.sql.shuffle.partitions")

    def generate(self, name: str, seed: int, shape, backfill: bool):
        """Median-of-repeats input generation; returns (inputs, seconds)."""
        secs = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            inp = grid.generate(self.work / name, seed, shape, backfill)
            secs.append(time.perf_counter() - t0)
        return inp, harness.median(secs)

    def host(self) -> dict:
        import pyspark

        steal, total = (b - a for a, b in zip(self.jiffies0, harness.cpu_jiffies()))
        return {
            "nproc": os.cpu_count(),
            "cores_used": self.cores,
            "spark_version": pyspark.__version__,
            "driver_memory": self.memory,
            "shuffle_partitions_effective": self.shuffle_partitions,
            "steal_pct_timed": 100.0 * steal / total if total else 0.0,
        }


def etl_lifecycle(run: Run) -> tuple[dict, dict, dict]:
    args = run.args
    inp, gen_s = run.generate("inputs", args.seed, grid.Shape(), backfill=True)
    # the warm-up publishes a short history through the initial write and
    # one mixed update; the backfill takes the same update path, and QC and
    # export, whose first calls cost about a second, warm up inside the
    # timed lifecycle, which keeps a run under a minute
    warm_shape = dataclasses.replace(grid.Shape(), history=10, updates=1)
    warm, _ = run.generate("warm_inputs", args.seed + WARM_SEED, warm_shape, backfill=False)
    t0 = time.perf_counter()
    grid.Lifecycle(run.spark, warm, run.work).publish(
        run.tracer, run.work / "warm_store", {"ops": 0, "seconds": 0.0, "op_s": {}})
    warm_s = time.perf_counter() - t0
    setup_s = run.session_s + gen_s + warm_s
    run.setup_parts = {"session_s": run.session_s, "inputs_s": gen_s, "warmup_s": warm_s}

    lc = grid.Lifecycle(run.spark, inp, run.work / "etl")
    passes, traced, walls = [], [], []
    run.start_timing()
    t0 = time.perf_counter()
    # whole lifecycles only: start another while it is expected to end in
    # time; a traced run needs one untraced and one traced lifecycle
    while (len(walls) < 1 + args.trace
           or time.perf_counter() - t0 + harness.median(walls) <= args.seconds):
        tr = run.tracer_for(len(walls))
        t1 = time.perf_counter()
        try:
            res = lc.run(tr, probe_decode=tr.enabled)
        except Exception:  # noqa: BLE001 — a raised lifecycle is a failed op
            traceback.print_exc()
            run.attempted += 1
            run.failed += 1
            res = None
        walls.append(time.perf_counter() - t1)
        if res is not None:
            run.read_back_partitions()
            run.attempted += res["ops"]
            run.failed += res["failed"]
            (traced if tr.enabled else passes).append(res)
    if not passes:
        raise RuntimeError("no lifecycle completed")

    updates = [s for p in passes for s in p["op_s"]["store.update"]]
    ops = sum(p["ops"] for p in passes)
    e2e = {
        "setup_s": setup_s,
        "files_per_bucket": passes[-1]["files_per_bucket"],
        "bytes_per_cell": passes[-1]["bytes_per_cell"],
    }
    report = {
        "cpu_ms_per_op": [1000 * run.tracer.cpu_s / ops, "ms"],
        "etl_cells_per_s": [harness.median([p["cells"] / p["seconds"] for p in passes]), "1/s"],
        "update_p50_s": [harness.median(updates), "s"],
        "bytes_stored_per_cell": [e2e["bytes_per_cell"], "B"],
        "lifecycles": [len(passes), "count"],
        "timed_calls": [ops, "count"],
        "update_samples": [len(updates), "count"],
        "update_quantiles_ms": quantiles_ms(updates),
        "cells_per_lifecycle": [passes[0]["cells"], "count"],
        "call_median_s": {k: harness.median([s for p in passes for s in p["op_s"][k]])
                          for k in passes[0]["op_s"]},
    }
    layers = {}
    if args.trace:
        layers["trace.overhead_pct"] = 100.0 * (
            harness.median([p["seconds"] for p in traced])
            / harness.median([p["seconds"] for p in passes]) - 1.0
        )
        layers["zarr2.chunks_written"] = harness.median([p["zarr_chunks"] for p in traced])
        layers["zarr2.bytes_written"] = harness.median([p["zarr_bytes"] for p in traced])
        layers["store.live_files"] = harness.median([p["live_files"] for p in traced])
    return e2e, report, layers


def grid_reads(run: Run) -> tuple[dict, dict, dict]:
    args = run.args
    # one daily update after the initial write takes the mixed re-issue and
    # append path; each further cold update costs seconds of set-up, and
    # the store keeps one live file per month bucket either way
    shape = dataclasses.replace(grid.Shape(), updates=1)
    inp, gen_s = run.generate("inputs", args.seed, shape, backfill=False)
    t0 = time.perf_counter()
    lc = grid.Lifecycle(run.spark, inp, run.work)
    store = lc.publish(run.tracer, run.work / "store",
                       {"ops": 0, "seconds": 0.0, "op_s": {}})
    build_s = time.perf_counter() - t0
    reads = grid.Reads(run.spark, inp, store)
    t0 = time.perf_counter()
    # whole blocks of the mix on their own seed, so the JIT has compiled
    # every read path before timing starts
    for r in grid.read_plan(args.seed + WARM_SEED, WARM_BLOCKS, inp.shape):
        reads.run(run.tracer, r)
    warm_s = time.perf_counter() - t0
    setup_s = run.session_s + gen_s + build_s + warm_s
    run.setup_parts = {"session_s": run.session_s, "inputs_s": gen_s,
                       "store_build_s": build_s, "warmup_s": warm_s}

    plan = grid.read_plan(args.seed, 10_000, inp.shape)
    lat, lat_traced = [], []
    run.start_timing()
    t_end = time.perf_counter() + args.seconds
    k = 0
    # whole blocks of the mix; trace mode alternates untraced and traced blocks
    while len(lat) + len(lat_traced) < MIN_READS or time.perf_counter() < t_end:
        tr = run.tracer_for(k)
        for r in plan[k * grid.BLOCK_SIZE: (k + 1) * grid.BLOCK_SIZE]:
            run.attempted += 1
            try:
                sec, ok, sha = reads.run(tr, r)
            except Exception:  # noqa: BLE001 — a raised read is a failed op
                traceback.print_exc()
                run.failed += 1
                continue
            run.read_back_partitions()
            run.failed += int(not ok)
            (lat_traced if tr.enabled else lat).append(sec)
            if sha:
                run.plans.setdefault(r[0], set()).add(sha)
        k += 1
    if not lat:
        raise RuntimeError("no read completed")

    e2e = {
        "setup_s": setup_s,
        "files_per_bucket": grid.live_files_per_bucket(store),
        "bytes_per_cell": grid.store_bytes_per_cell(store),
    }
    report = {
        "cpu_ms_per_op": [1000 * run.tracer.cpu_s / len(lat), "ms"],
        "read_p50_ms": [harness.quantile(lat, 0.5) * 1000, "ms"],
        "read_p75_ms": [harness.quantile(lat, 0.75) * 1000, "ms"],
        "reads_per_s": [len(lat) / sum(lat), "1/s"],
        "bytes_stored_per_cell": [e2e["bytes_per_cell"], "B"],
        "reads": [len(lat), "count"],
        "read_quantiles_ms": quantiles_ms(lat),
    }
    layers = {"store.live_files": float(len(store.manifest()["files"]))}
    if args.trace:
        # blocks share one composition, so mean latencies compare
        layers["trace.overhead_pct"] = 100.0 * (
            (sum(lat_traced) / len(lat_traced)) / (sum(lat) / len(lat)) - 1.0
        )
    return e2e, report, layers


WORKLOADS = {"etl_lifecycle": etl_lifecycle, "grid_reads": grid_reads}


def layer_metrics(spans, groups) -> dict[str, float]:
    """Per-layer metrics from the traced spans joined with the event log."""
    by, totals = harness.per_label(spans, groups)
    med = harness.median
    out = dict(totals)

    def st(label):
        return by.get(label, harness.LabelStats())

    for label in ("store.write_initial", "store.update", "store.backfill", "store.time_sliced",
                  "qc.check_dtype", "qc.sample_value", "qc.nan_binomial", "qc.compare",
                  "zarr2.export", "read.point", "read.window"):
        out[f"{label}_s"] = med(st(label).seconds)
    writes = [c for lb in ("store.write_initial", "store.update", "store.backfill")
              for c in st(lb).counts]
    upd = st("store.update")
    out["store.jobs_per_update"] = med([float(j) for j in upd.jobs])
    out["store.driver_gap_s"] = med(upd.gap_s)
    out["store.files_written"] = med([c["files"] for c in upd.counts])
    out["store.bytes_written"] = med([c["bytes"] for c in upd.counts])
    new = sum(c["new_bytes"] for c in writes)
    out["store.write_amp"] = sum(c["bytes"] for c in writes) / new if new else 0.0
    scans = [c["files"] for lb in ("store.time_sliced", "store.dataset") for c in st(lb).counts]
    out["store.files_scanned_per_read"] = sum(scans) / len(scans) if scans else 0.0
    dec = st("ingest.decode")
    out["ingest.decode_s"] = med(dec.seconds)
    out["ingest.executor_cpu_s"] = med(dec.cpu_s)
    out["ingest.cells_per_s"] = (
        med([c["cells"] / s for c, s in zip(dec.counts, dec.seconds)]) if dec.seconds else 0.0
    )
    for op in ("climatology", "anomaly", "coarsen", "resample_time", "rolling_time_agg"):
        out[f"climate.{op}_s"] = med(st(f"climate.{op}").seconds)
        out[f"climate.{op}_shuffle_write_mb"] = med(st(f"climate.{op}").shuffle_mb)
    return out


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM ignored its stdin closing
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import pyspark  # noqa: F401

        import zarr_climate_etl_ipfs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {HERE.parent}: {exc}", file=sys.stderr)
        return 2

    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run = None
    try:
        run = Run(args, work)
        e2e, report, layers = WORKLOADS[args.workload](run)
        peak_rss = harness.peak_rss_mb(run.spark)
        layers["host.peak_rss_mb"] = peak_rss
        host = run.host()
        spans = run.traced.spans
        stop_spark(run.spark)
        run.spark = None
        if args.trace:
            layers = {**layer_metrics(spans, harness.fold_event_log(work / "eventlog")), **layers}
    finally:
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, (u, _, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, (u, _) in END_TO_END.items()}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "failed_ops": [run.failed / max(1, run.attempted), "share"],
        "setup_s": [e2e["setup_s"], "s"],
        "setup_parts_s": run.setup_parts,
        "peak_rss_mb": [peak_rss, "MB"],
        **report,
        "host": host,
    }
    if args.trace:
        summary["plan_fingerprint"] = {k: sorted(v) for k, v in run.plans.items()}
    print(json.dumps({"report": summary}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
