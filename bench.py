"""Benchmark harness (driver contract + scaling evidence).

Default mode: runs the headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line::

    {"metric": "e2e_bench", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "n_triples": ...,
     "triples_per_sec": ...}

The flagship timing is the full KG-construction pipeline (annotate →
link → canonical triples, SURVEY.md §4.3) over deterministic synthetic
transcripts generated once into a cache dir (generation is setup, not
timed); the rest are relational/dedup/similarity micro-benchmarks on the
driver's sf testdata.

``--scaling`` mode: the north rule's two-cluster-size criterion, proxied
in-sandbox by running the SAME flagship job on the SAME input at two
REAL multi-executor layouts (separate executor JVMs via pinned
``local-cluster[n,2,8192]``). Headline pair: 1 executor (N) vs 4
executors (4N); prints throughput at both + efficiency
T_4N / (4 * T_N), plus a supplementary bandwidth-saturated 2→8-executor
pair, and rewrites BENCH_SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

MODEL_PATH = os.path.join(REPO, "models", "kg_model.pkl")
BENCH_CACHE = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/morra_bench")


def ensure_transcripts(spark, n_convs: int,
                       hot_frac: float = 0.0002) -> str:
    """Generate (once) the deterministic bench transcript table.

    Written as 64 files (hash-distributed by conversation) so the scan
    has real row-group parallelism at every executor count under test —
    a 100 TB table has thousands of row groups; a 4-file layout with one
    giant row group each does not, and was measured to silently cap an
    8-slot scan at 4 busy cores (see pipeline._row_group_count).

    ``hot_frac`` keeps the historical cache path for the default so the
    headline input is byte-identical across rounds; other values get
    their own cache dir (the hot-skew pair below)."""
    tag = "" if hot_frac == 0.0002 else f"_h{hot_frac:g}".replace(".", "p")
    path = f"{BENCH_CACHE}/transcripts_{n_convs}{tag}"
    marker = f"{path}/_SUCCESS_GEN_V2"
    if not os.path.exists(marker):
        from morra_spark.fixtures import TRANSCRIPT_COLS, gen_full

        shutil.rmtree(path, ignore_errors=True)
        (gen_full(spark, n_convs, seed=42, hot_frac=hot_frac)
         .select(*TRANSCRIPT_COLS)
         .repartition(64, "conv_id", "turn_idx")
         .write.mode("overwrite").parquet(path))
        open(marker, "w").close()
    return path


_TIMED_SEQ = [0]
_JVM_LOG = {"path": None}


def capture_jvm_stderr() -> None:
    """Route fd 2 into a logfile BEFORE the JVM launches.

    The local-mode JVM inherits the Python process's fd 2 at launch, so
    everything log4j prints (including the 'ERROR DAGScheduler: Failed
    to update accumulator' lines that corrupted BENCH_r03's
    salted_skew_join sample WITHOUT failing any task) lands in a file
    ``timed_clean`` can scan per measurement window. Python's own
    stderr is immediately restored onto a saved dup — only the JVM
    keeps the logfile fd."""
    if _JVM_LOG["path"] is not None:
        return
    path = f"{BENCH_CACHE}/jvm_stderr_{os.getpid()}.log"
    os.makedirs(BENCH_CACHE, exist_ok=True)
    saved = os.dup(2)
    fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC)
    os.dup2(fd, 2)
    os.close(fd)
    _JVM_LOG["path"] = path
    _JVM_LOG["restore"] = saved


def restore_python_stderr() -> None:
    """Give Python back its real stderr (call right after JVM launch)."""
    saved = _JVM_LOG.pop("restore", None)
    if saved is not None:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)


def _jvm_log_errors_since(offset: int) -> tuple[int, int]:
    """(n_error_lines, new_offset) for the JVM log region past offset."""
    path = _JVM_LOG["path"]
    if path is None or not os.path.exists(path):
        return 0, 0
    with open(path, "rb") as f:
        f.seek(offset)
        chunk = f.read()
    return chunk.count(b" ERROR "), offset + len(chunk)


def timed_clean(spark, fn, label: str, max_retries: int = 2):
    """Time ``fn()`` and verify the measurement window was CLEAN.

    VERDICT r3 wrong #1: BENCH_r03 published salted_skew_join at 13.5s
    (real: ~1.4s) because task retries / accumulator-update failures
    landed inside the timed window and nobody noticed. Every timed run
    now executes under its own job group; afterwards the status tracker
    is asked for failed tasks and stage re-attempts across that group's
    jobs. A dirty window is re-run (up to ``max_retries``); if it never
    comes clean the measurement is still returned but flagged, so the
    emitted JSON carries the taint instead of silently recording an
    artifact.

    Returns (seconds, result_of_fn, clean: bool).
    """
    sc = spark.sparkContext
    # O(1) baseline offset: getsize, NOT a full read of the accumulated
    # log just to learn its length (code-review r5 — ~50 timed windows
    # per bench each re-read the whole file)
    log_off = (os.path.getsize(_JVM_LOG["path"])
               if _JVM_LOG["path"] and os.path.exists(_JVM_LOG["path"])
               else 0)
    for attempt in range(max_retries + 1):
        _TIMED_SEQ[0] += 1
        group = f"bench_timed_{_TIMED_SEQ[0]}"
        sc.setJobGroup(group, f"bench timed run: {label}")
        try:
            t0 = time.time()
            out = fn()
            sec = time.time() - t0
        finally:
            sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        failed_tasks = stage_retries = 0
        for jid in tracker.getJobIdsForGroup(group):
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is None:
                    continue
                failed_tasks += si.numFailedTasks
                stage_retries += si.currentAttemptId
        n_errors, log_off = _jvm_log_errors_since(log_off)
        if failed_tasks == 0 and stage_retries == 0 and n_errors == 0:
            return sec, out, True
        print(f"bench: DIRTY window for {label} (attempt {attempt}: "
              f"{failed_tasks} failed tasks, {stage_retries} stage "
              f"re-attempts, {n_errors} JVM ERROR lines) — re-running",
              file=sys.stderr)
    return sec, out, False


def run_flagship(spark, transcripts_path: str) -> tuple[float, int, bool]:
    """Timed: scan → fused Arrow annotate → link → canonical triple agg."""
    from morra_spark.model_artifact import KGModel
    from morra_spark.plans.pipeline import (align_tool_turns,
                                            content_triples,
                                            entity_candidates_df,
                                            load_transcripts)

    model = KGModel.load(MODEL_PATH)
    bc = spark.sparkContext.broadcast(model)
    src = load_transcripts(spark, transcripts_path)

    def one_run() -> int:
        content = content_triples(src, bc, entity_candidates_df(spark, model),
                                  64)
        return align_tool_turns(content, src, 64).count()

    sec, n, clean = timed_clean(spark, one_run, "kg_flagship")
    return sec, n, clean


def run_hot_pair(spark) -> dict:
    """Skew-stress the flagship (VERDICT r4 #3): same pipeline, one
    UNIFORM input vs one where a single hot conversation holds ~10% of
    all turns (12,000 convs, hot_frac=0.0002 deterministically makes
    conv c00001360 carry 20,000 content turns of ~199k total — the
    north rule's 'explicit salting for hot conversations' case). The
    salted two-phase reassembly + turn_idx-salted sink must keep
    per-turn throughput within ~1.3x of the uniform run; without the
    salt, one task would own 10% of the corpus and the wall clock.
    Reported: both wall times + the uniform/hot throughput ratio."""
    n_convs = 12000
    uni = ensure_transcripts(spark, n_convs, hot_frac=0.0)
    hot = ensure_transcripts(spark, n_convs, hot_frac=0.0002)
    out: dict = {}
    for label, path in (("uniform", uni), ("hot", hot)):
        n_turns = spark.read.parquet(path).count()
        run_flagship(spark, path)  # warmup
        sec, n_triples, clean = run_flagship(spark, path)
        s2, _n, c2 = run_flagship(spark, path)  # best-of-2 clean
        if c2 and (not clean or s2 < sec):
            sec, clean = s2, True
        out[f"kg_flagship_{label}_sec"] = round(sec, 3)
        out[f"{label}_turns"] = n_turns
        out[f"{label}_turns_per_sec"] = round(n_turns / sec, 1)
        if not clean:
            out.setdefault("_tainted", []).append(f"kg_flagship_{label}")
    out["hot_throughput_ratio"] = round(
        out["uniform_turns_per_sec"] / out["hot_turns_per_sec"], 3)
    return out


def micro_queries(spark, sf_dir: str) -> dict[str, float]:
    """Relational/dedup/similarity micro-benchmarks on driver testdata."""
    import __spark_entry__ as E

    names = ["hash_agg", "sortmerge_join", "broadcast_join_dim",
             "salted_skew_join", "window_lag_gap", "sessionize",
             "dedup_minhash_lsh_fast", "ann_cosine_topk",
             # round-3 heavies: end-to-end curation funnel (quality →
             # exact → near-dup clustering), span-level dup accounting,
             # grid-cell interval-overlap join, and the classic 6-table
             # broadcast-chain join (TPC-H Q5 shape)
             "curation_funnel", "span_dedup", "interval_overlap_join",
             "tpch_q5",
             # round-5 steady-state rows (VERDICT r4 #6): the pure-scan
             # floor (Q6) and two decorrelated subquery shapes (Q17
             # correlated scalar aggregate, Q21 semi+anti on one fact) —
             # gate-checked since r4 but never benched until now
             "tpch_q6", "tpch_q17", "tpch_q21",
             # final-session KG ops: vocab-grain fuzzy entity resolution
             # (iterative CC — scheduling-overhead-dominated locally,
             # like curation_funnel) and recency-decayed fusion
             "entity_resolution", "kg_fusion_resolve"]
    qs = E.queries()
    out: dict[str, float] = {}
    tainted: list[str] = []
    for name in names:
        best = float("inf")
        # 1 untimed warmup + best-of-2 timed: the first execution of each
        # query shape pays one-off JIT/codegen + broadcast-build costs
        # (measured 8.5s cold vs 1.2s warm for broadcast_join_dim) that a
        # long-running 100 TB job amortizes to zero — steady state is the
        # scale-relevant signal.
        def run_one(name=name):
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()

        run_one()  # warmup, untimed
        any_clean = False
        for _rep in range(2):
            sec, _none, clean = timed_clean(spark, run_one, name)
            if clean:
                best = min(best, sec)
                any_clean = True
        if not any_clean:
            # no clean window in 2x(1+retries) attempts: record the
            # last measurement but flag it — never publish silently
            best = sec
            tainted.append(name)
        out[name] = round(best, 3)
    if tainted:
        out["_tainted"] = tainted  # surfaced into the JSON line
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def bench_once(cpus: int, sf_dir: str, n_convs: int, micro: bool = True,
               master: str | None = None) -> dict:
    from morra_spark.session import get_spark

    # 8 MB splits + load_transcripts' hash re-balance when splits < 2x
    # slots give ~4 even task waves; a swept adaptive split size was
    # tried and measured WORSE (tiny splits align badly with row groups
    # and starve the full pipeline), so this stays fixed.
    mpb = 8 << 20
    # Flagship plan shape is fixed (map-only + explicit broadcasts + one
    # sink exchange): AQE's per-query-stage driver re-planning is pure
    # serial latency here (~2s/run measured) with nothing to re-plan —
    # skew is handled by explicit salting, joins are forced broadcasts.
    # Production keeps AQE on (session default) as the skew-join backstop
    # for ad-hoc relational work.
    capture_jvm_stderr()  # JVM inherits fd 2 at launch -> scannable log
    try:
        spark = get_spark(
            f"bench_{cpus}", master=master or f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={"spark.sql.adaptive.enabled": "false",
                        "spark.sql.files.maxPartitionBytes": str(mpb),
                        "spark.sql.files.openCostInBytes": "131072"})
    finally:
        restore_python_stderr()
    if master and "local-cluster" in master:
        # separate executor JVMs -> their Python workers need the package
        # shipped, exactly like a real cluster (spark-submit --py-files)
        from morra_spark.session import ship_package

        ship_package(spark)
    try:
        tr = ensure_transcripts(spark, n_convs)
        n_turns = spark.read.parquet(tr).count()
        # warm the JVM/Python-worker pool so the timed run measures steady
        # state, not interpreter startup; report best-of-3 CLEAN runs to
        # damp GC noise (dirty windows are re-run inside timed_clean)
        run_flagship(spark, tr)
        sec, n_triples, flagship_clean = run_flagship(spark, tr)
        for _ in range(2):  # best-of-3: the sandbox VM shows high variance
            s2, _n, c2 = run_flagship(spark, tr)
            if c2 and not flagship_clean:
                sec, flagship_clean = s2, True  # first clean sample wins
            elif c2 == flagship_clean:
                sec = min(sec, s2)
        res = {"flagship_sec": round(sec, 3), "n_triples": n_triples,
               "n_turns": n_turns,
               "turns_per_sec": round(n_turns / sec, 1),
               "triples_per_sec": round(n_triples / sec, 1)}
        if not flagship_clean:
            res["flagship_tainted"] = True
        if micro:
            res["queries"] = micro_queries(spark, sf_dir)
            res["hot_pair"] = run_hot_pair(spark)
        return res
    finally:
        spark.stop()


# --scaling layouts: local-cluster[n, EXEC_CORES, EXEC_MEM_MB], n up to 8
EXEC_CORES, EXEC_MEM_MB, MAX_EXECS = 2, 8192, 8


def bench_once_pinned(n_executors: int, sf_dir: str, n_convs: int,
                      exec_cores: int = EXEC_CORES,
                      driver_slack: int = 4) -> dict:
    """Run bench_once in a subprocess as a REAL multi-executor layout:
    ``local-cluster[n_executors, exec_cores, mem]`` launches one separate
    executor JVM per executor (own heap, own GC, own Python workers) —
    the faithful proxy for an N-executor cluster. The whole process tree
    is pinned with ``taskset`` to exactly the executor cores plus a fixed
    ``driver_slack`` (a real cluster's driver node is not counted in
    executor resources; both configs get the same slack)."""
    import json as _json
    import subprocess

    total = n_executors * exec_cores
    cmd = [sys.executable, os.path.abspath(__file__), "--once", str(total),
           "--convs", str(n_convs),
           "--master",
           f"local-cluster[{n_executors},{exec_cores},{EXEC_MEM_MB}]"]
    if shutil.which("taskset"):
        # pin to the TOP of the core range: cores 0-3 host the system
        # daemons on this box, and including them skews the smaller run
        # disproportionately (its share of noisy cores is higher). Both
        # layouts get fully dedicated cores + the same driver allowance.
        ncpu = os.cpu_count() or 32
        lo_core = max(0, ncpu - total - driver_slack)
        cmd = ["taskset", "-c", f"{lo_core}-{ncpu - 1}"] + cmd
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_HOME=os.environ.get("SPARK_HOME", "/opt/spark"))
    out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                         check=True).stdout
    return _json.loads(out.strip().splitlines()[-1])


def main() -> None:
    from morra_spark.session import host_cores, host_mem_bytes

    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run flagship at N and 4N pinned executors, report efficiency")
    ap.add_argument("--reps", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "5")),
                    help="scaling: alternating N/4N measurement pairs; the "
                         "MEDIAN per-pair efficiency is the reported number")
    ap.add_argument("--once", type=int, default=None,
                    help="internal: run flagship-only bench at N cores, print JSON")
    ap.add_argument("--master", default=None,
                    help="internal: master override for --once (e.g. local-cluster[4,4,8192])")
    ap.add_argument("--convs", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000")))
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cores()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if args.once is not None:
        print(json.dumps(bench_once(args.once, sf_dir, args.convs, micro=False,
                                    master=args.master)))
        return

    if args.scaling:
        need_cores = MAX_EXECS * EXEC_CORES
        need_gib = MAX_EXECS * EXEC_MEM_MB / 1024
        have_gib = host_mem_bytes() / 2**30
        if cpus < need_cores or have_gib < need_gib:
            print(f"bench --scaling runs up to local-cluster[{MAX_EXECS},"
                  f"{EXEC_CORES},{EXEC_MEM_MB}]: it needs {need_cores} "
                  f"cores and {need_gib:.0f} GiB; this host gives {cpus} "
                  f"cores and {have_gib:.1f} GiB (RAM or cgroup limit)",
                  file=sys.stderr)
            sys.exit(2)
        # scaling needs a steady-state-sized input (~5.9M turns): a
        # 100 TB cluster job amortizes startup over hours, so the
        # ~3s/run fixed driver+stage latency must be noise against the
        # map-stage compute or the ratio measures overhead, not scaling.
        scaling_convs = max(args.convs, int(os.environ.get(
            "SPARK_GRAFT_SCALING_CONVS", "400000")))
        # "executor" := a separate 2-core-pinned JVM (the layout sweep
        # found 2-core executor JVMs scale best here: 2 task threads + 2
        # Python workers per small heap minimizes intra-JVM contention
        # and parallelizes GC across JVMs).
        #
        # HEADLINE criterion pair (VERDICT r2 #2): N = 1 executor → 4N =
        # 4 executors. A true N→4N executor measurement whose total busy
        # cores (2 → 8) stay BELOW this VM's ~16-busy-core memory-
        # bandwidth saturation point, so it measures the JOB's scaling
        # rather than the box's memory controller. The 2→8-executor pair
        # (4 → 16 cores) is measured alongside as the bandwidth-
        # saturated case: plain Python multiprocessing of the identical
        # annotation kernel hits the same ~0.87 ceiling at that core
        # ratio, and a real 4N cluster brings its own memory channels
        # with its executors — one box cannot.
        import statistics

        lo_execs, hi_execs = 1, 4
        pairs = []
        for _rep in range(max(args.reps, 1)):
            lo = bench_once_pinned(lo_execs, sf_dir, scaling_convs)
            hi = bench_once_pinned(hi_execs, sf_dir, scaling_convs)
            eff = (hi["turns_per_sec"] / lo["turns_per_sec"]) \
                / (hi_execs / lo_execs)
            pairs.append({"lo": lo, "hi": hi, "eff": round(eff, 3)})
            print(json.dumps({"rep": _rep, **pairs[-1]}), file=sys.stderr)
        effs = [p["eff"] for p in pairs]
        med = statistics.median(effs)
        # supplementary bandwidth-saturated pair: 2 → 8 executors
        s_lo = bench_once_pinned(MAX_EXECS // 4, sf_dir, scaling_convs)
        s_hi = bench_once_pinned(MAX_EXECS, sf_dir, scaling_convs)
        s_eff = (s_hi["turns_per_sec"] / s_lo["turns_per_sec"]) / 4.0
        out = {"metric": "scaling_efficiency", "value": round(med, 3),
               "unit": "ratio", "sf": sf, "effs": effs,
               "eff_2to8_exec_saturated": round(s_eff, 3),
               "criterion": f"median over {len(effs)} pairs of "
                            f"turns_per_sec({hi_execs} executors) / "
                            f"(4 * turns_per_sec({lo_execs} executor)) >= 0.8"}
        print(json.dumps(out))
        n_turns = pairs[0]["lo"]["n_turns"]
        n_triples = pairs[0]["lo"]["n_triples"]
        rows = "\n".join(
            f"| {i + 1} | {p['lo']['flagship_sec']} | {p['lo']['turns_per_sec']} "
            f"| {p['hi']['flagship_sec']} | {p['hi']['turns_per_sec']} | {p['eff']} |"
            for i, p in enumerate(pairs))
        with open(os.path.join(REPO, "BENCH_SCALING.md"), "w") as f:
            f.write(
                "# Scaling evidence (north rule: N → 4N executors)\n\n"
                "Same flagship job, same input "
                f"({n_turns} turns, {n_triples} triples), two REAL\n"
                "multi-executor layouts via `local-cluster[n,2,8192]`: each\n"
                "executor is a separate JVM with its own heap, GC, and Python\n"
                "workers. **Headline criterion pair: N = 1 executor → 4N = 4\n"
                "executors, 2 pinned cores each** (layout swept: 2-core\n"
                "executors scale best — small heaps, GC parallelized across\n"
                "JVMs). `taskset -c` pins each run's whole process tree to\n"
                "exactly the executor cores plus an identical 4-core driver\n"
                "allowance (a real cluster's driver node is not counted in\n"
                "executor resources; cores 0-3, which host the system daemons,\n"
                "stay outside every pin). The package ships to executors via\n"
                "addPyFile — the spark-submit --py-files mechanism. Per\n"
                "config: 1 warmup + best-of-3 timed runs; "
                f"{len(pairs)} alternating N/4N pairs,\n"
                "MEDIAN efficiency reported (this VM shows hypervisor-noise\n"
                "variance).\n\n"
                "| pair | N wall s | N turns/s | 4N wall s | 4N turns/s | efficiency |\n"
                "| --- | --- | --- | --- | --- | --- |\n"
                f"{rows}\n\n"
                f"**Median N→4N scaling efficiency = {med:.3f}** over\n"
                f"{len(effs)} pairs (spread {min(effs):.3f}–{max(effs):.3f};\n"
                "criterion ≥ 0.8, BASELINE.json north_rule) at 1 → 4\n"
                "executors.\n\n"
                "Supplementary pair at the same 4× executor ratio, 2 → 8\n"
                f"executors (4 → 16 cores): **{s_eff:.3f}**\n"
                f"({s_lo['turns_per_sec']} → {s_hi['turns_per_sec']} turns/s).\n"
                "This pair's upper end crosses THIS box's ~16-busy-core\n"
                "memory-bandwidth saturation point — plain Python\n"
                "multiprocessing of the identical annotation kernel (no\n"
                "Spark, no JVM) measures the same ceiling at the same core\n"
                "ratio with hypervisor steal <5% — so it reports the box's\n"
                "memory controller, not the job. Separate-host executors in a\n"
                "real 4N cluster bring their own memory channels, making the\n"
                "below-saturation 1→4 pair the faithful in-sandbox proxy for\n"
                "the N→4N criterion; the map-only plan shape (one shuffle on\n"
                "the triple path, broadcast dictionaries, zero cross-executor\n"
                "state in the hot stage) has no scaling barrier at any\n"
                "executor count.\n")
        return

    res = bench_once(cpus, sf_dir, args.convs, micro=True)
    queries = dict(res.pop("queries"))
    tainted = list(queries.pop("_tainted", []))
    if res.pop("flagship_tainted", False):
        tainted.append("kg_flagship")
    hot_pair = dict(res.pop("hot_pair", {}))
    tainted.extend(hot_pair.pop("_tainted", []))
    queries["kg_flagship"] = res["flagship_sec"]
    total = round(sum(queries.values()), 3)
    out = {"metric": "e2e_bench", "value": total, "unit": "sec",
           "queries": queries, "sf": sf, **res}
    if hot_pair:
        # skew evidence (north rule: explicit salting for hot
        # conversations): kept OUT of the e2e total so round-over-round
        # "value" comparisons stay apples-to-apples
        out["hot_pair"] = hot_pair
    if tainted:
        # a query that never produced a failure-free window: its number
        # is a known-bad sample (task retries inside the timing), not a
        # regression — recorded loudly instead of standing as official
        out["tainted"] = tainted
    print(json.dumps(out))


if __name__ == "__main__":
    main()
