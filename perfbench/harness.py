"""Session, timing, tracing and event-log folding shared by the workloads.

The tracer wraps calls into the package from the outside: each traced call
runs under a Spark job-group label, and after the session stops the event
log is folded into per-label task metrics and job spans.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import re
import resource
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat; on a
    shared host steal is the time the hypervisor gave our CPUs to others."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return fields[7], sum(fields)


#: JIT compiler threads of the JVM, by their (truncated) thread names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class WorkCpu:
    """CPU seconds (user + system) of this process and every process it
    started that still runs (the JVM and its Python workers), less the JVM's
    JIT compiler threads. Compilation takes about half of the JVM's CPU in a
    one-minute run and follows how the scheduler treats the compiler
    threads, not the work. With steal accounting on, the hypervisor's steal
    is in none of these figures."""

    def __init__(self):
        self.me = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")
        # compiler threads come and go; keep the last figure of each
        self.jit: dict[tuple[int, int], float] = {}

    def _stat(self, path: str) -> tuple[str, list[str]] | None:
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            return None
        return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()

    def seconds(self) -> float:
        parent, cpu = {}, {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (st := self._stat(f"/proc/{d}/stat")) is not None:
                parent[int(d)] = int(st[1][1])
                cpu[int(d)] = (int(st[1][11]) + int(st[1][12])) / self.tick
        total = 0.0
        for pid, c in cpu.items():
            p = pid
            while p > 1 and p != self.me:
                p = parent.get(p, 0)
            if p != self.me:
                continue
            total += c
            if pid == self.me:
                continue
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                st = self._stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and st[0].startswith(_JIT_THREADS):
                    self.jit[(pid, int(tid))] = (int(st[1][11]) + int(st[1][12])) / self.tick
        return total - sum(self.jit.values())


def start_session(work: Path, cores: int, driver_memory: str, event_log: bool):
    """Local session on ``cores`` threads with the package's own tuning.

    Everything Spark writes (scratch, warehouse, event log, JVM temp) goes
    under ``work``; the Python workers get the checkout on their path so
    ``mapInPandas`` decoders can import the package.
    """
    from pyspark.sql import SparkSession

    from zarr_climate_etl_ipfs_spark.session import TUNING

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    root = str(Path(__file__).resolve().parent.parent)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
    )
    for k, v in TUNING.items():
        b = b.config(k, v)
    if event_log:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(work / "eventlog"))
            .config("spark.eventLog.compress", "true")
            .config("spark.eventLog.compression.codec", "zstd")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — RSS of the JVM is then not reported
        return None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the JVM, in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = _jvm_pid(spark)
    jvm_kb = _vm_hwm_kb(pid) if pid else 0
    return (py_kb + jvm_kb) / 1024.0


def plan_fingerprint(df) -> str:
    """sha256 prefix of the executed physical plan with run-varying ids,
    paths and sizes scrubbed; call after an action so AQE has settled."""
    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+[A-Z]*", "#", s)
    s = re.sub(r"\b([a-z]+)_\d+#", r"\1_#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\[id=#?\d*\]", "", s)
    s = re.sub(r"/[^\s,\)\]]+", "/PATH", s)
    s = re.sub(r"\d{4}-\d\d-\d\d[ T][\d:.]+", "TS", s)  # timestamp literals
    s = re.sub(r"-?\d+\.\d+(E-?\d+)?", "F", s)  # float literals
    s = re.sub(r"\d+(\.\d+)?\s*(B|KiB|MiB|GiB|TiB)\b", "SZ", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"\b\d{4,}\b", "N", s)
    return hashlib.sha256(s.encode()).hexdigest()[:12]


@dataclass
class Span:
    label: str
    start_ms: float
    end_ms: float
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Times calls into the package. When ``enabled``, each call runs under
    a job-group label so its Spark jobs can be attributed afterwards; when
    not, it only times the call."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0
        #: work CPU seconds of the process tree inside timed calls, when measured
        self.cpu_s = 0.0
        self.work_cpu: WorkCpu | None = None

    def call(self, label: str, fn, *args, **kwargs):
        """Run ``fn`` and return ``(result, seconds)``."""
        if self.enabled:
            self._seq += 1
            self.sc.setJobGroup(f"{label}#{self._seq}", label)
        c0 = self.work_cpu.seconds() if self.work_cpu else 0.0
        t0 = time.time() * 1000.0
        p0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            sec = time.perf_counter() - p0
            if self.work_cpu:
                self.cpu_s += self.work_cpu.seconds() - c0
            if self.enabled:
                self.spans.append(Span(f"{label}#{self._seq}", t0, time.time() * 1000.0))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        return out, sec

    def note(self, **counts: float) -> None:
        """Attach counts to the most recent span."""
        if self.enabled and self.spans:
            self.spans[-1].counts.update(counts)


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def _events(path: Path):
    import pyarrow as pa

    raw = pa.input_stream(str(path), compression="zstd" if path.suffix == ".zstd" else None)
    with io.TextIOWrapper(raw, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def fold_event_log(log_dir: Path) -> dict[str, GroupMetrics]:
    """Fold a finished Spark event log into task metrics and job spans per
    job-group id. Call after the session stopped, so the log is complete."""
    apps = list(log_dir.iterdir())
    if len(apps) != 1:
        raise RuntimeError(f"expected one application's event log in {log_dir}, found {apps}")
    if apps[0].is_dir():  # rolling layout: eventlog_v2_<app>/events_<n>_<app>[.zstd]
        files = sorted((p for p in apps[0].iterdir() if p.name.startswith("events_")),
                       key=lambda p: int(p.name.split("_")[1]))
    else:
        files = apps[0:1]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupMetrics] = {}
    for ev in (e for f in files for e in _events(f)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"]
            out.setdefault(g, GroupMetrics()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"])
            if g is not None:
                out[g].job_spans.append((job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            gm = out[g]
            gm.tasks += 1
            gm.run_ms += m.get("Executor Run Time", 0)
            gm.cpu_ns += m.get("Executor CPU Time", 0)
            gm.gc_ms += m.get("JVM GC Time", 0)
            gm.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            gm.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def union_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class LabelStats:
    """Per-call figures of every span sharing one label."""

    seconds: list[float] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    cpu_s: list[float] = field(default_factory=list)
    shuffle_mb: list[float] = field(default_factory=list)
    gap_s: list[float] = field(default_factory=list)
    counts: list[dict[str, float]] = field(default_factory=list)


def per_label(spans: list[Span], groups: dict[str, GroupMetrics]) -> tuple[dict[str, LabelStats], dict[str, float]]:
    """Join spans with folded metrics: per-label lists plus the run totals
    (``spark.*``) over every traced span."""
    by: dict[str, LabelStats] = {}
    tot = GroupMetrics()
    gap_ms = 0.0
    for sp in spans:
        g = groups.get(sp.label, GroupMetrics())
        gap = max(0.0, (sp.end_ms - sp.start_ms) - union_ms(g.job_spans, sp.start_ms, sp.end_ms))
        st = by.setdefault(sp.label.split("#")[0], LabelStats())
        st.seconds.append(sp.seconds)
        st.jobs.append(g.jobs)
        st.cpu_s.append(g.cpu_ns / 1e9)
        st.shuffle_mb.append(g.shuffle_write_b / 2**20)
        st.gap_s.append(gap / 1000.0)
        st.counts.append(sp.counts)
        tot.jobs += g.jobs
        tot.tasks += g.tasks
        tot.run_ms += g.run_ms
        tot.cpu_ns += g.cpu_ns
        tot.gc_ms += g.gc_ms
        tot.shuffle_write_b += g.shuffle_write_b
        tot.spill_b += g.spill_b
        gap_ms += gap
    totals = {
        "spark.jobs": float(tot.jobs),
        "spark.tasks": float(tot.tasks),
        "spark.executor_run_s": tot.run_ms / 1000.0,
        "spark.executor_cpu_s": tot.cpu_ns / 1e9,
        "spark.gc_s": tot.gc_ms / 1000.0,
        "spark.shuffle_write_mb": tot.shuffle_write_b / 2**20,
        "spark.spill_mb": tot.spill_b / 2**20,
        "spark.driver_gap_s": gap_ms / 1000.0,
    }
    return by, totals


def dir_bytes(path: Path) -> tuple[int, int]:
    """(file count, total bytes) of the regular files under ``path``."""
    n = size = 0
    for p in path.rglob("*"):
        if p.is_file():
            n += 1
            size += p.stat().st_size
    return n, size
