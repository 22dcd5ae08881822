"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary; the
program itself is not edited. Three sources:

- ``Spans`` patches the module attributes the pipeline calls through
  (``checkpoint.run_stage``, ``checkpoint.write_checkpoint``,
  ``tableio.read_existing_parquet``, ``incremental_kg.affected_part_keys``,
  ``run_pipeline``). Each boundary starts a new phase: its wall time is
  taken here and every Spark job it launches runs under the job group
  ``pb/<stage>/<phase>``.
- ``read_event_log`` folds the Spark event log into per-group task
  counters (executor time, bytes, failed tasks, skew).
- ``kernel_profile`` runs the annotate kernel in this process over the
  workload's content turns and records each layer's self time.

A wrapped attribute that no longer exists raises when patched, and a
phase or kernel layer that is never entered raises after the run, so a
refactor cannot silently zero a layer.
"""

from __future__ import annotations

import collections
import gc
import glob
import json
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb/"
STAGES = ("extract_triples", "tool_triples")
CKPT_PHASES = ("fingerprint", "sink_write", "count_out", "commit")


@contextmanager
def patched(targets):
    """Temporarily set each ``(obj, attr, replacement)`` attribute."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, new in targets:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)


class Spans:
    """Wall-clock phases of one traced job, each under its own job group.

    Phases are contiguous: entering one closes the previous, so the
    phases of a ``run_pipeline`` call partition its wall time. Phase
    names are ``<stage>/<phase>``; ``readback/*`` is everything in
    ``run_pipeline`` outside the two checkpointed stages."""

    def __init__(self, sc):
        self.sc = sc
        self.wall: dict[str, float] = collections.defaultdict(float)
        self._phase: str | None = None
        self._t = 0.0
        self._stage: str | None = None
        self._out_dir: str | None = None
        self.affected: list[int] = []

    def enter(self, phase: str | None) -> None:
        now = time.perf_counter()
        if self._phase is not None:
            self.wall[self._phase] += now - self._t
        self._phase, self._t = phase, now
        if phase is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + phase, f"perfbench {phase}")

    def stage_s(self, stage: str) -> float:
        return sum(v for k, v in self.wall.items()
                   if k.startswith(stage + "/"))

    @contextmanager
    def installed(self):
        from morra_spark.plans import checkpoint as CK
        from morra_spark.plans import incremental_kg as IK
        from morra_spark.plans import pipeline as P
        from morra_spark.sources import tableio

        run_stage = CK.run_stage
        write_checkpoint = CK.write_checkpoint
        read_existing = tableio.read_existing_parquet
        affected = IK.affected_part_keys
        run_pipeline = P.run_pipeline

        def w_run_pipeline(*a, **kw):
            self.enter("readback/run")
            try:
                return run_pipeline(*a, **kw)
            finally:
                self.enter(None)

        def w_run_stage(spark, *, stage, out_dir, transform, **kw):
            def w_transform(pending, keys):
                self.enter(f"{stage}/sink_write")
                return transform(pending, keys)

            self._stage, self._out_dir = stage, out_dir
            self.enter(f"{stage}/fingerprint")
            try:
                return run_stage(spark, stage=stage, out_dir=out_dir,
                                 transform=w_transform, **kw)
            finally:
                self._stage = self._out_dir = None
                self.enter("readback/run")

        def w_read_existing(spark, path):
            if self._out_dir is not None and path == self._out_dir:
                self.enter(f"{self._stage}/count_out")
            return read_existing(spark, path)

        def w_write_checkpoint(*a, **kw):
            self.enter(f"{self._stage}/commit")
            return write_checkpoint(*a, **kw)

        def w_affected(*a, **kw):
            self.enter("incr/diff")
            try:
                parts = affected(*a, **kw)
            finally:
                self.enter("incr/delete")
            self.affected = list(parts)
            return parts

        with patched([(CK, "run_stage", w_run_stage),
                      (CK, "write_checkpoint", w_write_checkpoint),
                      (tableio, "read_existing_parquet", w_read_existing),
                      (IK, "affected_part_keys", w_affected),
                      (IK, "run_pipeline", w_run_pipeline),
                      (P, "run_pipeline", w_run_pipeline)]):
            try:
                yield self
            finally:
                self.enter(None)

    def require(self, incremental: bool) -> None:
        """Raise unless every expected phase was entered."""
        want = [f"{s}/{p}" for s in STAGES for p in CKPT_PHASES]
        want.append("readback/run")
        if incremental:
            want += ["incr/diff", "incr/delete"]
        missing = [p for p in want if p not in self.wall]
        if missing:
            raise RuntimeError(f"traced phases never entered: {missing}")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

class _StageTasks:
    __slots__ = ("group", "run_ms", "cpu_ns", "gc_ms", "input_b", "shw_b",
                 "shr_b", "out_b", "spill_b", "failed", "task_ms", "python",
                 "attempts", "n_tasks")

    def __init__(self, group):
        self.group = group
        self.run_ms = self.cpu_ns = self.gc_ms = 0
        self.input_b = self.shw_b = self.shr_b = self.out_b = self.spill_b = 0
        self.failed = 0
        self.task_ms: list[int] = []
        self.python = False
        self.attempts = 0
        self.n_tasks = 0


def read_event_log(log_dir: str) -> dict:
    """Fold the (single, uncompressed) event log under ``log_dir`` into
    ``{"stages": {stage_id: _StageTasks}, "jobs": Counter(group)}`` for
    job groups under ``GROUP_PREFIX``."""
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stages: dict[int, _StageTasks] = {}
    jobs: collections.Counter = collections.Counter()
    with open(files[0]) as f:
        for line in f:
            if '"SparkListenerBlockUpdated"' in line[:60]:
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if g.startswith(GROUP_PREFIX):
                    jobs[g[len(GROUP_PREFIX):]] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if g.startswith(GROUP_PREFIX):
                    sid = e["Stage Info"]["Stage ID"]
                    st = stages.setdefault(sid, _StageTasks(g[len(GROUP_PREFIX):]))
                    st.attempts += 1
                    st.n_tasks = e["Stage Info"]["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(e["Stage ID"])
                if st is not None:
                    _add_task(st, e)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.get(info["Stage ID"])
                if st is not None and any(
                        a.get("Name") == "time to run Python workers"
                        for a in info.get("Accumulables", [])):
                    st.python = True
    return {"stages": stages, "jobs": jobs}


def _add_task(st: _StageTasks, e: dict) -> None:
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        st.failed += 1
    m = e.get("Task Metrics")
    if not m:
        return
    st.run_ms += m["Executor Run Time"]
    st.task_ms.append(m["Executor Run Time"])
    st.cpu_ns += m["Executor CPU Time"]
    st.gc_ms += m["JVM GC Time"]
    st.input_b += m["Input Metrics"]["Bytes Read"]
    st.out_b += m["Output Metrics"]["Bytes Written"]
    st.shw_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    r = m["Shuffle Read Metrics"]
    st.shr_b += r["Remote Bytes Read"] + r["Local Bytes Read"]
    st.spill_b += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]


def stage_counters(log: dict, stage: str) -> dict:
    """Counters of every Spark job group under pipeline ``stage``.

    ``task_skew`` is max / median task run time of the stage's heaviest
    Spark stage (most executor time): pooling tasks of unrelated Spark
    stages would compare a listing task with an annotate task."""
    pre = stage + "/"
    sts = [s for s in log["stages"].values() if s.group.startswith(pre)]
    heavy = max(sts, key=lambda s: s.run_ms, default=None)
    skew = 0.0
    if heavy is not None and heavy.task_ms:
        skew = max(heavy.task_ms) / max(statistics.median(heavy.task_ms), 1.0)
    return {
        "jobs": sum(n for g, n in log["jobs"].items() if g.startswith(pre)),
        "spark_stages": len(sts),
        "executor_run_s": sum(s.run_ms for s in sts) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
        "gc_s": sum(s.gc_ms for s in sts) / 1e3,
        "input_bytes": sum(s.input_b for s in sts),
        "shuffle_write_bytes": sum(s.shw_b for s in sts),
        "shuffle_read_bytes": sum(s.shr_b for s in sts),
        "output_bytes": sum(s.out_b for s in sts),
        "spill_bytes": sum(s.spill_b for s in sts),
        "failed_tasks": sum(s.failed for s in sts),
        "stage_retries": sum(s.attempts - 1 for s in sts),
        "task_skew": skew,
    }


def python_stage(log: dict, stage: str = "extract_triples") -> _StageTasks:
    """The Spark stage of ``stage`` that runs the ``mapInPandas`` kernel."""
    pys = [s for s in log["stages"].values()
           if s.group.startswith(stage + "/") and s.python]
    if len(pys) != 1:
        raise RuntimeError(f"expected one Python stage in {stage}, "
                           f"found {len(pys)}")
    return pys[0]


# --------------------------------------------------------------------------
# Annotate kernel
# --------------------------------------------------------------------------

class SelfTimer:
    """Self time per layer: a call's duration minus its wrapped callees'."""

    def __init__(self):
        self.self_s: dict[str, float] = collections.defaultdict(float)
        self.calls: collections.Counter = collections.Counter()
        self._child: list[float] = []

    def wrap(self, layer: str, fn):
        def wrapped(*a, **kw):
            self._child.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                self.self_s[layer] += dt - self._child.pop()
                self.calls[layer] += 1
                if self._child:
                    self._child[-1] += dt
        return wrapped


def _kernel_targets(model, timer: SelfTimer) -> list:
    """(object, attribute, wrapper) for every kernel layer."""
    from morra_spark.operators import features_fast as FF
    from morra_spark.operators import tagger

    layers = [
        (tagger, "_annotate_pdf", "prologue"),   # tokenize + offsets
        (tagger, "_run_cascade", "cascade_glue"),
        (tagger, "assemble_batch", "assembly"),  # operators.spans
        (FF, "BatchFeatures", "batch_features"),
        (FF, "pos_feature_ids", "pos_features"),
        (FF, "ner_feature_ids", "ner_features"),
        (FF, "class_row_tables", "ner_features"),
        (FF, "tag_context_ids", "ner_features"),
        (FF, "lemmatize_fast", "lemma"),
        (model.pos, "static_scores", "pos_scores"),  # operators.perceptron
        (model.pos, "decode_batch", "pos_decode"),
        (model.ner, "static_scores", "ner_scores"),
        (model.ner, "decode_batch", "ner_decode"),
    ]
    return [(obj, attr, timer.wrap(layer, getattr(obj, attr)))
            for obj, attr, layer in layers]


KERNEL_LAYERS = ("prologue", "cascade_glue", "assembly", "batch_features",
                 "pos_features", "ner_features", "lemma", "pos_scores",
                 "pos_decode", "ner_scores", "ner_decode")


def kernel_profile(pdf, model_path: str, n_tasks: int,
                   batch_rows: int) -> tuple[float, dict]:
    """Annotate ``pdf`` in this process as the Spark stage would: split
    into ``n_tasks`` contiguous task inputs, each cut into Arrow batches
    of at most ``batch_rows`` rows. Returns (unwrapped kernel seconds,
    per-layer self seconds of a wrapped run of the same batches)."""
    from morra_spark.model_artifact import KGModel
    from morra_spark.operators import tagger

    model = KGModel.load(model_path)
    per_task = -(-len(pdf) // max(n_tasks, 1))
    batches = []
    for lo in range(0, len(pdf), per_task):
        task = pdf.iloc[lo:lo + per_task]
        batches += [task.iloc[i:i + batch_rows].reset_index(drop=True)
                    for i in range(0, len(task), batch_rows)]

    def annotate(b):
        tagger._annotate_pdf(b, model, triples_only=True)

    # the benchmark's own heap (gold multiset, turn table) must not make
    # the cyclic GC slower here than in a Spark Python worker
    gc.collect()
    gc.freeze()
    try:
        for b in batches:  # warm caches and the allocator
            annotate(b)
        # each batch runs plain, then wrapped, back to back: on a shared
        # host a pass can run 25% slower than the next, but two runs of
        # one ~10 ms batch see the same machine
        timer = SelfTimer()
        targets = _kernel_targets(model, timer)
        total = 0.0
        for b in batches:
            t0 = time.perf_counter()
            annotate(b)
            total += time.perf_counter() - t0
            with patched(targets):
                annotate(b)
    finally:
        gc.unfreeze()
    missing = [layer for layer in KERNEL_LAYERS if not timer.calls[layer]]
    if missing:
        raise RuntimeError(f"kernel layers never entered: {missing}")
    return total, dict(timer.self_s)
