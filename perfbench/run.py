"""Benchmark of the production KG job on the host it runs on.

Times ``plans.pipeline.run_pipeline`` as ``job.py`` ships it (fresh out
dir, ``session.get_spark`` defaults, ``n_parts=64``) and
``plans.incremental_kg.run_incremental`` over seeded synthetic
transcripts. Only the Spark master and the driver heap are sized from
the host. Every run's triple multiset is checked against the gold.

    python3 perfbench/run.py --workload full_build_uniform --seed 1 \
        --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics: the process-tree CPU time
of one job and set-up time (wall time follows the host's other tenants
too much to bound; it is printed, and is per-layer). ``--trace 1``
prints the per-layer metrics of one traced run (see perfbench/README.md).
The last stdout line is one JSON object: correct, attempted, failed,
metrics.
Run from the repository root; everything is written under
``.bench_data/`` there and removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODEL = os.path.join(ROOT, "models", "kg_model.pkl")
N_PARTS = 64

# n_convs is sized so that 48 invocations (two ten-seed sets per workload
# plus traced runs) finish within an hour; see README.md "Sizing"
WORKLOADS = {
    "full_build_uniform": dict(n_convs=2000, hot_frac=0.0, incremental=False),
    "incremental_refresh": dict(n_convs=2000, hot_frac=0.0, incremental=True),
}


# --------------------------------------------------------------------------
# host, processes, memory
# --------------------------------------------------------------------------

def host_resources() -> tuple[int, int]:
    """(cores this process may run on, driver heap in GiB). The heap is a
    quarter of physical RAM (or of the cgroup limit, if lower), 1-8 GiB."""
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            ram = min(ram, int(limit))
    except OSError:
        pass
    return cores, max(1, min(8, ram // 4 // 2**30))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and its
    descendants, including children they have already reaped: a Python
    worker that exits mid-run moves from its own count into its parent's,
    so the sum stays monotonic. Time the hypervisor stole is not in it."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        ticks += sum(int(x) for x in fields[11:15])  # u/s time, cu/cs time
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_ticks(jvm: int) -> int:
    """CPU ticks used so far by the JVM's live JIT compiler threads."""
    ticks = 0
    for t in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{t}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{jvm}/task/{t}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except OSError:
            pass  # a compiler thread the JVM retired while idle
    return ticks


def settle(spark, timeout: float = 30.0) -> float:
    """Let the warm-up's lazy work finish before timing: collect both
    heaps, then wait until the JIT compiler threads have been idle for a
    second. A run right after the warm-up otherwise shares the CPU with a
    compile queue whose length depends on how much CPU the host gave the
    warm-up. Returns the seconds waited."""
    import gc

    t0 = time.perf_counter()
    jvm = next((p for p in descendants(os.getpid()) if _comm(p) == "java"),
               None)
    if jvm is None:
        raise RuntimeError("no JVM among this process's descendants")
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    idle, last = 0, jit_ticks(jvm)
    while idle < 4 and time.perf_counter() - t0 < timeout:
        time.sleep(0.25)
        now = jit_ticks(jvm)
        idle = idle + 1 if now - last <= 1 else 0
        last = now
    return time.perf_counter() - t0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and its descendants: pages shared
    between forked Python workers count once overall, not once each."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between listing and reading
    return total


class PeakMemory:
    """Peak resident memory (PSS) of this process tree: driver JVM plus
    Python workers, sampled every 100 ms while ``measuring()``."""

    def __init__(self):
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            if self._on.wait(0.1):
                self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
                time.sleep(0.1)

    @contextmanager
    def measuring(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

    def close(self):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


def start_spark(work: str, eventlog: str | None):
    from morra_spark.session import get_spark

    cores, heap_gb = host_resources()
    conf = {"spark.driver.memory": f"{heap_gb}g",
            "spark.local.dir": f"{work}/spark-local"}
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{eventlog}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if _alive(p)]
        time.sleep(0.1)
    for p in kids:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    """One workload's inputs, its untimed preparation and its timed job."""

    def __init__(self, spark, inputs, work: str):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.incremental = inputs.v2 is not None
        self.base = f"{work}/base"
        self._n = 0

    def warm_up(self) -> None:
        """One run_pipeline over v1. For the incremental workload it is
        the base output every timed refresh starts from."""
        from morra_spark.plans import pipeline as P

        P.run_pipeline(self.spark, transcripts_path=self.inputs.v1,
                       out_dir=self.base, model_path=MODEL, n_parts=N_PARTS)

    def prepare(self) -> str:
        """A fresh out dir for the next timed run (untimed)."""
        self._n += 1
        out = f"{self.work}/out{self._n}"
        if self.incremental:
            shutil.copytree(self.base, out)
        return out

    def run(self, out: str) -> dict:
        from morra_spark.plans import incremental_kg as IK
        from morra_spark.plans import pipeline as P

        if self.incremental:
            return IK.run_incremental(
                self.spark, old_transcripts_path=self.inputs.v1,
                new_transcripts_path=self.inputs.v2, out_dir=out,
                model_path=MODEL, n_parts=N_PARTS)
        return P.run_pipeline(self.spark, transcripts_path=self.inputs.v1,
                              out_dir=out, model_path=MODEL, n_parts=N_PARTS)

    def correct(self, out: str) -> bool:
        from perfbench.inputs import read_triples

        return read_triples(f"{out}/triples") == self.inputs.gold


class Runs:
    """Timed runs with outcome and clean-window accounting."""

    def __init__(self, wl: Workload, memory: PeakMemory | None):
        self.wl, self.memory = wl, memory
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.attempted = self.failed = 0
        self.failed_tasks = self.stage_retries = 0
        self.n_triples = 0

    def one(self, group: str, traced=None) -> tuple[float, float] | None:
        """Run the job once; return its (wall, process-tree CPU) seconds,
        None if it failed."""
        sc = self.wl.spark.sparkContext
        out = self.wl.prepare()
        self.attempted += 1
        sc.setJobGroup(group, f"perfbench timed run {group}")
        try:
            with self.memory.measuring() if self.memory else nullcontext():
                c0 = tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                if traced is None:
                    res = self.wl.run(out)
                else:
                    with traced.installed():
                        res = self.wl.run(out)
                dt = time.perf_counter() - t0
                dc = tree_cpu_s(os.getpid()) - c0
        except Exception as e:  # a failed run is counted, not fatal
            print(f"perfbench: run {group} raised {e!r}", file=sys.stderr)
            self.failed += 1
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if traced is None:
            self._window_health(sc, group)
        ok = self.wl.correct(out)
        shutil.rmtree(out)
        if not ok:
            print(f"perfbench: run {group} wrote a wrong triple set",
                  file=sys.stderr)
            self.failed += 1
            return None
        self.n_triples = res["n_triples"]
        return dt, dc

    def _window_health(self, sc, group: str) -> None:
        """Failed tasks and stage re-attempts of the run's job group, from
        the status tracker. Reported, never re-run away."""
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            for sid in (job.stageIds if job else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    self.failed_tasks += st.numFailedTasks
                    self.stage_retries += st.currentAttemptId

    def window(self, seconds: float) -> None:
        """Timed runs back to back within ``seconds`` of wall time: at
        least one, and another only while the last one's duration still
        fits, so a window never overruns by most of a run."""
        start = time.perf_counter()
        i = 0
        while True:
            i += 1
            t0 = time.perf_counter()
            r = self.one(f"pbrun/{i}")
            if r is not None:
                self.times.append(r[0])
                self.cpu.append(r[1])
            now = time.perf_counter()
            if now - start + (now - t0) > seconds:
                return


# --------------------------------------------------------------------------
# reporting
# --------------------------------------------------------------------------

def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def emit(metrics: dict, runs: Runs, correct: bool) -> int:
    print(json.dumps({"correct": correct, "attempted": runs.attempted,
                      "failed": runs.failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def _summary(name: str, xs: list[float]) -> float:
    q1, med, q3 = quartiles(xs)
    print(f"{name}: median {med:.3f} s, quartiles [{q1:.3f}, {q3:.3f}], "
          f"n={len(xs)}, runs {[round(x, 3) for x in xs]}")
    return med


def end_to_end(wl: Workload, runs: Runs, setup_s: float) -> dict:
    """The compute one job costs (process-tree CPU seconds; time the
    hypervisor stole from the VM is not in it) and set-up time. Wall time
    is per-layer: on a shared host it follows the neighbours' load."""
    _summary("job_s", runs.times)
    cpu_s = _summary("job_cpu_s", runs.cpu)
    print(f"failed_frac: {runs.failed}/{runs.attempted}; clean window: "
          f"{runs.failed_tasks} failed tasks, {runs.stage_retries} stage "
          f"re-attempts")
    return {"setup_s": (setup_s, "s"),
            "job_cpu_s": (cpu_s, "s"),
            "turns_per_cpu_s": (wl.inputs.turns / cpu_s, "1/s")}


def wall_metrics(wl: Workload, runs: Runs) -> dict:
    """Median wall time of the timed runs (tracing off)."""
    job_s = statistics.median(runs.times)
    return {"job_s": (job_s, "s"),
            "turns_per_s": (wl.inputs.turns / job_s, "1/s"),
            "triples_per_s": (runs.n_triples / job_s, "1/s")}


def per_layer(wl: Workload, spans, log: dict, untraced_s: float,
              traced_s: float, kernel_turns: int,
              kernel: tuple[float, dict], stage_turns: int,
              peak_bytes: int) -> dict:
    """Per-layer metrics of the traced run, plus its self-consistency
    checks (which raise)."""
    from perfbench import tracing as T

    m: dict[str, tuple[float, str]] = {}
    for stage in (*T.STAGES, "readback"):
        m[f"stage.{stage}.wall_s"] = (spans.stage_s(stage), "s")
        units = {"jobs": "count", "spark_stages": "count",
                 "failed_tasks": "count", "stage_retries": "count",
                 "task_skew": "ratio"}
        for k, v in T.stage_counters(log, stage).items():
            m[f"stage.{stage}.{k}"] = (v, units.get(
                k, "B" if k.endswith("_bytes") else "s"))
    for phase in T.CKPT_PHASES:
        m[f"ckpt.{phase}_s"] = (sum(spans.wall[f"{s}/{phase}"]
                                    for s in T.STAGES), "s")

    total_s, self_s = kernel
    rate = kernel_turns / total_s
    m["kernel.turns_per_s_core"] = (rate, "1/s")
    for layer in T.KERNEL_LAYERS:
        m[f"kernel.{layer}_s"] = (self_s[layer], "s")
    py = T.python_stage(log)
    kernel_in_stage = stage_turns / rate
    # derived, not measured: executor time of the mapInPandas stage minus
    # the in-process kernel time for the same turns
    m["arrow.boundary_s"] = (py.run_ms / 1e3 - kernel_in_stage, "s")
    share = kernel_in_stage / max(
        m["stage.extract_triples.executor_run_s"][0], 1e-9)
    m["kernel.extract_share"] = (share, "ratio")
    print(f"bound: a kernel layer change moves turns_per_cpu_s and "
          f"turns_per_s by at most its "
          f"share of stage.extract_triples executor time; the whole kernel "
          f"is {100 * share:.1f}% of it")
    print("arrow.boundary_s is DERIVED: executor time of the mapInPandas "
          "stage minus content turns / kernel.turns_per_s_core")

    if wl.incremental:
        m["incr.affected_parts"] = (len(spans.affected), "count")
        m["incr.diff_s"] = (spans.wall["incr/diff"], "s")
        m["incr.delete_s"] = (spans.wall["incr/delete"], "s")
    else:  # a full build recomputes every part with no diff or delete
        m["incr.affected_parts"] = (N_PARTS, "count")
        m["incr.diff_s"] = (0.0, "s")
        m["incr.delete_s"] = (0.0, "s")
    m["incr.rerun_s"] = (sum(spans.stage_s(s)
                             for s in (*T.STAGES, "readback")), "s")
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")
    m["process_tree.peak_pss_mb"] = (peak_bytes / 2**20, "MB")

    spans_sum = m["incr.rerun_s"][0] + m["incr.diff_s"][0] \
        + m["incr.delete_s"][0]
    checks = {"stage spans vs job_s": (spans_sum, traced_s),
              "kernel self times vs kernel total": (sum(self_s.values()),
                                                    total_s)}
    for what, (part, whole) in checks.items():
        print(f"check {what}: {part:.3f} / {whole:.3f} s")
        if abs(part - whole) > 0.10 * whole:
            raise RuntimeError(f"self-consistency check failed: {what} "
                               f"differ by more than 10%")
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def _isolate(work: str) -> None:
    """Keep every file the run writes (Python, JVM and Spark temp files)
    under ``work`` and let Python workers import the repository."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "morra_spark"))
            and os.path.isfile(MODEL)):
        print("perfbench: morra_spark or its model is missing under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_data", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    from perfbench.inputs import generate  # needs ROOT on sys.path

    cores, heap_gb = host_resources()
    print(f"host: local[{cores}] from sched_getaffinity, driver heap "
          f"{heap_gb}g; workload {args.workload} seed {args.seed}")
    eventlog = f"{work}/eventlog" if args.trace else None
    # sampling /proc costs the JVM a little, so only traced runs do it
    memory = PeakMemory() if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        inp = generate(f"{work}/inputs", seed=args.seed,
                       **WORKLOADS[args.workload])
        print(f"inputs: {inp.turns} turns ({len(inp.content)} content), "
              f"{sum(inp.gold.values())} gold triples, generated in "
              f"{time.perf_counter() - t0:.2f} s (not set-up)")
        t0 = time.perf_counter()
        spark = start_spark(work, eventlog)
        session_s = time.perf_counter() - t0
        wl = Workload(spark, inp, work)
        wl.warm_up()
        settle_s = settle(spark)
        setup_s = time.perf_counter() - t0
        print(f"set-up: {setup_s:.2f} s, of which session start "
              f"{session_s:.2f} s, waiting for the JIT {settle_s:.2f} s")
        runs = Runs(wl, memory)
        runs.window(args.seconds)
        if not runs.times:
            print("perfbench: no run succeeded", file=sys.stderr)
            return 1
        if not args.trace:
            metrics = end_to_end(wl, runs, setup_s)
            return emit(metrics, runs, runs.failed == 0)
        return _traced(spark, wl, runs, eventlog)
    finally:
        if spark is not None:
            stop_spark(spark)
        if memory is not None:
            memory.close()
        shutil.rmtree(work, ignore_errors=True)


def _traced(spark, wl: Workload, runs: Runs, eventlog: str) -> int:
    from perfbench import tracing as T

    # the JVM is still warming up over the first runs: compare the traced
    # run with the untraced run just before it, not with their median
    untraced_s = runs.times[-1]
    spans = T.Spans(spark.sparkContext)
    traced = runs.one("pbrun/traced", traced=spans)
    if traced is None:
        print("perfbench: the traced run failed", file=sys.stderr)
        return 1
    traced_s = traced[0]
    spans.require(wl.incremental)
    stage_turns = len(wl.inputs.content)
    if wl.incremental:
        stage_turns = _recomputed_content(spark, wl, spans.affected)
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    stop_spark(spark)  # flushes and closes the event log
    log = T.read_event_log(eventlog)
    n_tasks = T.python_stage(log).n_tasks
    pdf = wl.inputs.content
    kernel = T.kernel_profile(pdf, MODEL, n_tasks, batch_rows)
    metrics = per_layer(wl, spans, log, untraced_s, traced_s, len(pdf),
                        kernel, stage_turns, runs.memory.peak)
    return emit({**wall_metrics(wl, runs), **metrics}, runs,
                runs.failed == 0)


def _recomputed_content(spark, wl: Workload, parts: list[int]) -> int:
    """Content turns of v2 in the part_keys the refresh recomputed."""
    from pyspark.sql import functions as F

    from morra_spark.plans import checkpoint as CK

    src = spark.read.parquet(wl.inputs.v2).filter(F.col("role") != "tool")
    return CK.add_part_key(src, N_PARTS) \
        .filter(F.col("part_key").isin(parts)).count()


if __name__ == "__main__":
    sys.exit(main())
