"""End-to-end benchmark of the etl_mark1_spark engine.

    python3 e2ebench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``.bench_work/``, starts one Spark session with a fixed
driver heap, warms up with the workload's first units, then measures whole
units until ``--seconds`` of timed calls have passed. It checks every
output, prints one description line and, last, one JSON result line.
With ``--trace 1`` it instead replays one unit with spans around every
layer call and the Spark event log on, and reports per-layer metrics.

Exit status: 0 when every output was correct, 1 when one was not, 2 when
the program is not in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Fixed driver heap (-Xms = -Xmx), so heap sizing does not depend on the
#: host's RAM; pages are not pre-touched, so peak RSS follows what the
#: program actually touches.
HEAP = "2g"
WORKLOADS = ("interactive", "curation_dag")
MAX_UNITS = 4

END_TO_END = {
    "setup_s": "s", "p50_s": "s", "qps": "1/s", "write_docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}

_OPS = ("jobs", "task_s", "shuffle_write_mb", "spill_mb")
PER_LAYER = [
    "session.get_spark.wall_s",
    "sources.readers.read_file.calls",
    "sources.readers.read_file.wall_s",
    "sources.versioned.write_version.wall_s",
    "sources.versioned.write_version.jobs",
    "sources.versioned.write_version.files",
    "plans.sql.execute_sql.self_s",
    "plans.sql.preview.jobs",
    "plans.sql.preview.task_s",
    "plans.sql.preview.driver_gap_s",
    "plans.dag.PipelineExecutor.execute.self_s",
    "plans.dag.PipelineExecutor.execute.driver_gap_s",
    "plans.dag.retries",
    *(f"plans.dag.{n}.rows_out_in"
      for n in ("gate", "exact", "near", "decontam", "redact", "mixture", "pack")),
    "functions.text.gopher_quality_flags.task_s",
    *(f"operators.dedup.{f}.{m}" for f in ("dedup_keep_best", "minhash_dedup") for m in _OPS),
    *(f"{f}.{m}" for f in ("operators.bloom.bloom_semi_filter", "operators.corpus.redact_pii",
                           "operators.corpus.temperature_mixture",
                           "operators.corpus.pack_sequences") for m in ("jobs", "task_s")),
    "operators.indexing.write_search_index.jobs",
    "operators.indexing.write_search_index.task_s",
    "operators.indexing.write_search_index.files",
    "operators.indexing.bm25_search_persisted.jobs",
    "operators.indexing.bm25_search_persisted.driver_gap_s",
    "operators.indexing.bm25_search_persisted.task_s",
    "operators.indexing.files",
    "operators.indexing.tombstones",
    *(f"operators.indexing.{f}.{m}" for f in ("delete_from_index", "compact_index")
      for m in ("wall_s", "jobs", "shuffle_write_mb")),
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.parallel_eff", "spark.attributed_frac",
    "trace_overhead_frac",
]
PER_LAYER_UNITS = {"calls": "count", "jobs": "count", "files": "count", "retries": "count",
                   "tasks": "count", "tombstones": "count", "rows_out_in": "ratio",
                   "shuffle_write_mb": "MB", "spill_mb": "MB", "parallel_eff": "ratio",
                   "attributed_frac": "ratio", "trace_overhead_frac": "ratio"}


def unit_of(metric: str) -> str:
    return PER_LAYER_UNITS.get(metric.rsplit(".", 1)[-1], "s")


class Timer:
    s = 0.0


class Bench:
    """Run state shared by the workloads: timing, output checks, spans."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.measuring = False
        self.latencies: dict[str, list[float]] = {}
        self.written: dict[str, list[float]] = {}
        self.unit_times: list[float] = []
        self.calls = 0
        self.timed_s = 0.0
        self.check_s = 0.0

    @contextlib.contextmanager
    def timed(self, kind: str | None = None, docs: int = 0):
        """Time one blocking client call. In the measured window its latency
        is recorded under its ``kind``, and the ``docs`` a write call
        writes are added to that kind's [docs, seconds] totals."""
        t = Timer()
        start = time.perf_counter()
        try:
            yield t
        finally:
            t.s = time.perf_counter() - start
            self.timed_s += t.s
            if self.measuring:
                self.calls += 1
                if kind:
                    self.latencies.setdefault(kind, []).append(t.s)
                if docs:
                    w = self.written.setdefault(kind, [0, 0.0])
                    w[0] += docs
                    w[1] += t.s

    def verify(self, what: str, check) -> None:
        """Run ``check`` (None when the output is correct, else a reason)."""
        start = time.perf_counter()
        self.attempted += 1
        try:
            err = check()
        except Exception as exc:  # a crashing check is a wrong output
            err = f"check raised {exc!r}"
        if err:
            self.failed += 1
            self.errors.append(f"{what}: {err}")
        self.check_s += time.perf_counter() - start


class Session:
    """The Spark session under a fixed configuration, all scratch space
    inside the run's work directory."""

    def __init__(self, work: str):
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        self.spark = None

    def start(self, event_dir: str | None = None):
        from etl_mark1_spark.session import get_spark

        conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(app_name="e2ebench", master=f"local[{self.cpus}]",
                               driver_memory=HEAP, extra_conf=conf)
        return self.spark

    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus this process's max RSS."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and end the gateway JVM, waiting until it has
        exited (PySpark leaves it running until this process exits)."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def become_subreaper() -> None:
    """Make processes orphaned below this one (the Python workers the Spark
    JVM forks) its children, so that ``reap_children`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                pids.append(int(entry))
    return pids


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every child of this process has ended; kill what is still
    running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in children():
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def make_workload(name: str, bench: Bench):
    if name == "interactive":
        from interactive import Interactive

        return Interactive(bench, Interactive.warmup_units + MAX_UNITS + 1)
    from curation_workload import Curation

    return Curation(bench, Curation.warmup_units + MAX_UNITS + 1)


def measure(args, bench: Bench, session: Session, wl, host, phases: dict):
    """Untraced: the measured window and the end-to-end metrics."""
    spark = session.spark
    bench.measuring = True
    host.window_start()
    while (len(bench.unit_times) < wl.min_units
           or sum(bench.unit_times) < args.seconds and len(bench.unit_times) < MAX_UNITS):
        bench.unit_times.append(wl.run_unit(spark))
    host.window_end()
    bench.measuring = False
    extra = wl.describe()
    peak = session.peak_rss_mb()
    from stats import geomean, halves, tail

    lat_of, written = bench.latencies, bench.written
    metrics = {"setup_s": phases["setup_s"],
               "p50_s": geomean([statistics.median(lat_of[k]) for k in wl.request_kinds]),
               "qps": bench.calls / sum(bench.unit_times),
               "write_docs_per_s": geomean([docs / s for docs, s in written.values()]),
               "peak_rss_mb": peak}
    parts = []
    for kind, lat in lat_of.items():
        tl = tail(lat)
        parts.append(f"{kind} n={len(lat)} p50 {statistics.median(lat):.3f} s (halves "
                     + "/".join(f"{h:.3f}" for h in halves(lat)) + ")"
                     + (f" p{tl[0]:.1f} {tl[1]:.3f} s" if tl and tl[0] > 50 else ""))
    desc = (f"{wl.unit}s: warm-up {fmt(phases['warmup'])}, measured {fmt(bench.unit_times)} "
            f"(halves " + "/".join(f"{h:.2f}" for h in halves(bench.unit_times)) + "); "
            + "; ".join(parts) + f"; {bench.calls} calls; written "
            + ", ".join(f"{k} {docs} docs in {s:.2f} s" for k, (docs, s) in written.items())
            + "".join(f", {k}={v:.4g}" for k, v in extra.items()))
    return metrics, desc


def trace(bench: Bench, session: Session, wl, host, phases: dict):
    """Traced: replay one unit from the same state twice, each on a
    restarted session: untraced, then with the event log on and spans open,
    followed by the run's finish."""
    import tracing

    host.window_start()
    # the end-of-run calls (compaction) run once before the replays, so the
    # traced one does not pay their first-call cost
    wl.finish(session.spark)
    snap = wl.snapshot()
    events = os.path.join(bench.work, "events")
    tr = bench.tracer
    tr.replaying = True
    replay_s = {}
    for name in ("untraced", "traced"):
        target = wl.restore(snap, name)
        session.stop()
        spark = session.start(events if name == "traced" else None)
        spark.range(1).count()
        # the stopped context's objects are garbage now; collect them before
        # the replay rather than inside it
        spark._jvm.java.lang.System.gc()
        tr.spark, tr.enabled = spark, name == "traced"
        before = bench.timed_s
        with tr.span("bench.replay") as root:
            wl.run_unit(spark, target)
            replay_s[name] = bench.timed_s - before
            if name == "traced":
                wl.finish(spark, target)
        tr.enabled = False
    session.stop()
    host.window_end()
    log = next(os.path.join(events, f) for f in os.listdir(events))
    jobs = tracing.read_event_log(log)
    tracing.attribute(jobs, tr.spans)
    per_span = tracing.span_metrics(jobs, tr.spans)
    values = dict(tr.globals)
    values.update(tracing.run_metrics(jobs, tr.spans, root, session.cpus))
    values["session.get_spark.wall_s"] = phases["session_s"]
    values["trace_overhead_frac"] = replay_s["traced"] / replay_s["untraced"] - 1
    for span, m in per_span.items():
        for key, v in m.items():
            values[f"{span}.{key}"] = v
    metrics = {name: float(values.get(name, 0.0)) for name in PER_LAYER}
    desc = (f"replays of one {wl.unit}, each on a restarted session: "
            f"{replay_s['traced']:.2f} s traced vs {replay_s['untraced']:.2f} s untraced; "
            f"{len(jobs)} jobs, {len(tr.spans)} spans")
    return metrics, desc


def fmt(values) -> str:
    return "[" + ", ".join(f"{v:.2f}" for v in values) + "]"


def run(args, work: str) -> int:
    session = Session(work)
    sys.path.insert(0, ROOT)
    from stats import HostConditions
    from tracing import Tracer

    host = HostConditions()
    bench = Bench(args.seed, work, Tracer(False))
    t = time.perf_counter()
    wl = make_workload(args.workload, bench)
    gen_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        spark = session.start()
        phases = {"session_s": time.perf_counter() - t}
        t = time.perf_counter()
        spark.range(1).count()
        phases["first_action_s"] = time.perf_counter() - t
        phases["warmup"] = [wl.run_unit(spark) for _ in range(wl.warmup_units)]
        phases["setup_s"] = time.perf_counter() - T0 - gen_s - bench.check_s
        if args.trace:
            metrics, desc = trace(bench, session, wl, host, phases)
            units = {name: unit_of(name) for name in metrics}
        else:
            metrics, desc = measure(args, bench, session, wl, host, phases)
            units = END_TO_END
    finally:
        session.close()
        wl.close()
    correct = bench.failed == 0
    print(f"e2ebench {args.workload} seed={args.seed}: driver heap {HEAP} (-Xms=-Xmx), "
          f"local[{session.cpus}]; inputs generated in {gen_s:.2f} s; "
          f"setup {phases['setup_s']:.2f} s = session {phases['session_s']:.2f} s + first "
          f"action {phases['first_action_s']:.2f} s + warm-up; {desc}; {host.describe()}; "
          f"run wall {time.perf_counter() - T0:.1f} s")
    for err in bench.errors[:20]:
        print(f"WRONG OUTPUT {err}")
    print(json.dumps({"correct": correct, "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_mark1_spark", "session.py")):
        print("e2ebench: etl_mark1_spark/ is not in this checkout; run from a full checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    become_subreaper()
    try:
        return run(args, work)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)


if __name__ == "__main__":
    sys.exit(main())
