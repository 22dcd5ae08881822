"""Cross-batch tool-turn alignment — the custom STATEFUL streaming
operator (SURVEY.md §2 B-T4/B-U, `applyInPandasWithState`).

The per-micro-batch sink (`incremental.make_batch_writer`) aligns tool
turns within their batch only: a tool turn whose invoking content turn
landed in an EARLIER micro-batch emits nothing — the documented scope
cut. This module closes it with per-conversation keyed state:

* the stream is annotated once (mapInPandas, same cascade as batch) and
  reduced to one narrow row per turn carrying the turn's alignment
  subject = min (subj, subj_ne) over its triples, null when the turn
  emitted none — the identical rule to the batch window form
  (`pipeline.align_tool_turns`) and the fixtures' gold;
* `groupBy(conv_id).applyInPandasWithState` keeps (last seen turn_idx,
  current invoking subject) per conversation — O(1) state per conv, no
  buffering of turns — and emits a `used_tool` triple for every tool
  turn whose nearest preceding content turn (in THIS or ANY earlier
  batch) carried a subject;
* state expires via event-time timeout one `state_ttl` past the
  watermark, so idle conversations cannot grow state forever (the same
  bound the windowed aggregations use);
* ordering assumption (documented, test-asserted): turns of one
  conversation arrive in non-decreasing turn_idx order ACROSS batches —
  true for append-only transcript logs; a late out-of-order turn below
  the high-water turn_idx is dropped and counted, never mis-aligned.
  Dropped history is NOT lost permanently: the documented recovery path
  is ``backfill_tool_triples`` below — re-run the affected range through
  the (order-insensitive) batch path, anti-join what streaming already
  emitted, append only the missing triples. streamed ∪ backfill is
  byte-identical to an in-order run (test-asserted).

100 TB shape: one Python annotate stage, one hash exchange on conv_id
(the state operator's natural partitioning), tiny per-key state; the
sink appends per batch_id exactly like the stateless path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from morra_spark.plans.pipeline import TOOL_PRED

ALIGN_INPUT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                      "tool string, ts timestamp, subj string, "
                      "subj_ne string")
TOOL_TRIPLE_SCHEMA = ("conv_id string, turn_idx int, subj string, "
                      "pred string, obj string, subj_ne string, "
                      "obj_ne string")
STATE_SCHEMA = "last_idx int, subj string, subj_ne string"


def _canon_subj(model, subj: str, subj_ne: str) -> str:
    """The Python twin of ``pipeline.link_endpoints`` for one endpoint:
    rewrite a known alias to its canonical entity when the NE tag
    matches the canonical's type (the same (alias, ne_type) join
    condition), else pass through. Used so STREAMED tool-triple
    subjects match the batch aligner's post-linking subjects
    byte-for-byte (code-review r5: the stream previously aligned on
    raw pre-link subjects, fragmenting graph edges whenever linking
    rewrites an alias)."""
    c = model.entity_canon.get(subj)
    if c is not None and model.entity_type.get(c) == subj_ne:
        return c
    return subj


def turns_with_align_subject(stream: DataFrame, model_bc) -> DataFrame:
    """Annotate → one narrow row per turn: its alignment subject.

    Content turns: subj/subj_ne = the lexicographically smallest
    (subj, subj_ne) among the turn's CANONICALIZED triples — each
    subject runs through the alias dictionary (``_canon_subj``) BEFORE
    the min, exactly mirroring the batch path's link-then-min order
    (min over raw values could pick a different element whenever
    linking reorders them). Null if none — a blocker. Tool turns: subj
    null, tool name kept. Map-only, one Python stage.
    """
    from morra_spark.operators.tagger import _annotate_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf[["conv_id", "turn_idx", "role", "tool", "ts"]].copy()
            is_content = (pdf["role"] != "tool").to_numpy()
            subj = [None] * len(pdf)
            subj_ne = [None] * len(pdf)
            if is_content.any():
                ann = _annotate_pdf(pdf[is_content], model, triples_only=True)
                for pos, tris in zip(ann.index, ann["triples"]):
                    if tris:
                        s = min((_canon_subj(model, t["subj"],
                                             t["subj_ne"]), t["subj_ne"])
                                for t in tris)
                        subj[pdf.index.get_loc(pos)] = s[0]
                        subj_ne[pdf.index.get_loc(pos)] = s[1]
            out["subj"] = subj
            out["subj_ne"] = subj_ne
            yield out

    return stream.mapInPandas(run, schema=ALIGN_INPUT_SCHEMA)


def _strs(series: pd.Series) -> "np.ndarray":
    """Object array with anything non-str (NaN, None) normalized to None."""
    import numpy as np

    return np.array([v if isinstance(v, str) else None for v in series],
                    dtype=object)


def _align_fn(state_ttl_ms: int):
    def align(key, pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        conv_id = key[0]
        cols = ["conv_id", "turn_idx", "subj", "pred", "obj",
                "subj_ne", "obj_ne"]
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=cols)
            return
        last_idx, subj, subj_ne = (state.get if state.exists
                                   else (-1, None, None))
        # Materialize the whole group BEFORE sorting: the runtime splits
        # one group into multiple Arrow chunks (maxRecordsPerBatch), so
        # sorting each chunk independently let a lower-turn_idx row in a
        # LATER chunk of the same micro-batch hit the straggler guard
        # and silently lose alignments for long conversations (ADVICE
        # r2). One concat + one stable sort restores per-batch order.
        chunks = [c for c in pdfs if len(c)]
        pdf = (pd.concat(chunks, ignore_index=True) if chunks
               else pd.DataFrame(columns=["turn_idx", "role", "tool",
                                          "subj", "subj_ne"]))
        # drop_duplicates closes the same-batch replay hole: a replay
        # file re-delivering a turn in the SAME trigger passes the
        # last_idx guard twice and would double-emit its tool triple
        # (code-review r5 — the stateless runner gets this from
        # dropDuplicatesWithinWatermark, which cannot be chained before
        # applyInPandasWithState). Cross-batch replays are already
        # blocked by the last_idx guard.
        pdf = pdf[pdf["turn_idx"] > last_idx] \
            .sort_values("turn_idx", kind="stable") \
            .drop_duplicates(subset=["turn_idx"], keep="first")
        out = pd.DataFrame(columns=cols)
        if len(pdf):
            # vectorized per-group scan (VERDICT r2 #5): content rows
            # WRITE the running subject (None = blocker), tool rows READ
            # the nearest preceding content row's — a searchsorted gather
            # over content positions instead of an itertuples loop.
            turn_idx = pdf["turn_idx"].to_numpy()
            is_tool = (pdf["role"] == "tool").to_numpy()
            subjs, subj_nes = _strs(pdf["subj"]), _strs(pdf["subj_ne"])
            tools = _strs(pdf["tool"])
            cpos = np.flatnonzero(~is_tool)
            tpos = np.flatnonzero(
                is_tool & np.array([t is not None for t in tools]))
            if tpos.size:
                if cpos.size:
                    j = np.searchsorted(cpos, tpos, side="left") - 1
                    safe = cpos[np.maximum(j, 0)]
                    s = np.where(j >= 0, subjs[safe], subj)
                    sn = np.where(j >= 0, subj_nes[safe], subj_ne)
                else:
                    # tool-only slice (ADVICE r3 high): a conversation
                    # whose micro-batch delivers ONLY tool turns has no
                    # content positions to gather from — every tool turn
                    # reads the state-carried subject from the previous
                    # batch. The gather path would index an empty cpos.
                    s = np.full(tpos.size, subj, dtype=object)
                    sn = np.full(tpos.size, subj_ne, dtype=object)
                keep = np.array([v is not None for v in s])
                out = pd.DataFrame({
                    "conv_id": conv_id,
                    "turn_idx": turn_idx[tpos][keep].astype("int64"),
                    "subj": s[keep], "pred": TOOL_PRED,
                    "obj": tools[tpos][keep],
                    "subj_ne": sn[keep], "obj_ne": "Tool",
                }, columns=cols)
            last_idx = int(turn_idx[-1])
            if cpos.size:
                subj, subj_ne = subjs[cpos[-1]], subj_nes[cpos[-1]]
        state.update((last_idx, subj, subj_ne))
        _set_event_time_ttl(state, pdf, state_ttl_ms)
        yield out

    return align


def _set_event_time_ttl(state: GroupState, pdf: pd.DataFrame,
                        ttl_ms: int) -> None:
    """Register the state TTL against max(watermark, batch max event
    time). In the FIRST micro-batch the watermark is still 0, and the
    old ``wm > 0`` guard skipped registration entirely — a conversation
    only ever seen in batch 0 then held state for the lifetime of the
    query, the exact leak the TTL bounds (code-review r5). The batch's
    own max event time is a valid base: it is > 0 whenever any row
    carries a timestamp, and EventTimeTimeout only requires the timeout
    to exceed the current watermark."""
    wm = state.getCurrentWatermarkMs()
    base = wm
    if "ts" in pdf.columns and len(pdf):
        mx = pd.to_datetime(pdf["ts"]).max()
        if pd.notna(mx):
            base = max(base, int(mx.value // 1_000_000))
    if base > 0:
        state.setTimeoutTimestamp(base + ttl_ms)


def aligned_tool_triples(stream: DataFrame, model_bc,
                         state_ttl: str = "1 hour",
                         delay: str = "10 minutes") -> DataFrame:
    """Streaming DataFrame of cross-batch `used_tool` triples."""
    ttl_ms = _duration_ms(state_ttl)
    # watermark goes on the stateful operator's direct input: mapInPandas
    # re-projects its columns, so a watermark placed before it would not
    # be recognized by the state store's event-time timeout tracking
    narrowed = turns_with_align_subject(stream, model_bc) \
        .withWatermark("ts", delay)
    return (narrowed.groupBy("conv_id")
            .applyInPandasWithState(_align_fn(ttl_ms),
                                    outputStructType=TOOL_TRIPLE_SCHEMA,
                                    stateStructType=STATE_SCHEMA,
                                    outputMode="append",
                                    timeoutConf=GroupStateTimeout.EventTimeTimeout))


_DURATION_UNITS = {"second": 1000, "seconds": 1000, "minute": 60_000,
                   "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000,
                   "day": 86_400_000, "days": 86_400_000}


def _duration_ms(s: str) -> int:
    # strictly positive: a zero/negative TTL passes configuration but
    # produces a timeout at-or-below the watermark, killing the query
    # mid-run with an IllegalArgumentException instead of failing here
    # (code-review r5)
    parts = s.split()
    if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) <= 0 \
            or parts[1] not in _DURATION_UNITS:
        raise ValueError(
            f"invalid duration {s!r}: expected '<N> <unit>' with N a "
            f"positive integer and unit one of "
            f"{sorted(set(_DURATION_UNITS))} (e.g. '10 minutes')")
    return int(parts[0]) * _DURATION_UNITS[parts[1]]


BACKFILL_BATCH_BASE = 1_000_000_000  # far above streaming micro-batch ids


def backfill_tool_triples(spark: SparkSession, *, transcripts_path: str,
                          out_dir: str, model_path: str,
                          conv_ids: list[str] | None = None,
                          n_parts: int = 64) -> dict:
    """Recover tool triples dropped by the straggler guard — the
    documented reprocessing recipe for out-of-order history.

    The streaming aligner drops a turn below a conversation's high-water
    turn_idx rather than risk misalignment (append-only-log assumption).
    A replayed historical backfill file therefore emits nothing for its
    tool turns. This batch job closes that permanently-lost hole:

    1. read the FULL transcript history (batch scan — order-insensitive:
       the window form sorts by turn_idx, so arrival order is
       irrelevant), deduped on (conv_id, turn_idx) since replay files
       duplicate turns; optionally restricted to the affected
       ``conv_ids`` (at 10^12 turns: the conversations in the replayed
       range, a partition-prunable filter);
    2. recompute tool triples through the batch path
       (``align_tool_turns``, tool-origin rows only — the same alignment
       rule the stateful operator implements incrementally);
    3. anti-join what streaming ALREADY emitted on the FULL row
       identity (all seven triple columns): rows the stream got right
       are never duplicated, while a streamed row with a stale/wrong
       SUBJECT (the straggler scenario: its true invoking turn arrived
       late and was dropped) no longer masks the batch-corrected row —
       the correction is appended and supersedes at read time
       (code-review r5: the old (conv, turn, pred, obj) key made the
       wrong row permanent);
    4. append the missing + corrected triples under a dedicated
       ``batch_id=BACKFILL_BATCH_BASE+k`` partition (ids far above any
       streaming micro-batch id; k increments per backfill so repeated
       backfills never clobber each other).

    Read with ``read_tool_triples`` — per tool-turn identity the row
    with the HIGHEST batch_id wins, so backfill corrections (ids ≥
    BACKFILL_BATCH_BASE) supersede streamed rows without rewriting the
    append-only sink. Invariant (test-asserted):
    ``read_tool_triples(streamed ∪ backfill)`` is byte-identical to
    what an in-order run would have produced, for every tool turn the
    batch path emits. Known limitation: a SPURIOUS streamed row whose
    tool-turn identity the batch path emits nothing for (stream aligned
    past a dropped blocker turn) would need a tombstone to retract;
    appends cannot express it. Returns ``{"n_backfilled": int,
    "batch_id": int}``.
    """
    from morra_spark.model_artifact import KGModel
    from morra_spark.plans.pipeline import (align_tool_turns,
                                            content_triples,
                                            entity_candidates_df)

    model = KGModel.load(model_path)
    src = (spark.read.parquet(transcripts_path)
           .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
           .dropDuplicates(["conv_id", "turn_idx"]))
    if conv_ids is not None:
        src = src.filter(F.col("conv_id").isin(conv_ids))
    content = content_triples(src, spark.sparkContext.broadcast(model),
                              entity_candidates_df(spark, model), n_parts)
    want = (align_tool_turns(content, src, n_parts)
            .filter(F.col("is_tool"))
            .select("conv_id", "turn_idx", "subj", "pred", "obj",
                    "subj_ne", "obj_ne"))

    sink = f"{out_dir}/tool_triples"
    max_prev = BACKFILL_BATCH_BASE - 1
    # 'no prior output' means the sink genuinely does not exist (probed
    # via the Hadoop FS API, so s3a:/hdfs: sinks behave like local ones
    # — ADVICE r4) or holds no readable data yet; a transient read
    # failure of an EXISTING sink must propagate, or every recomputed
    # triple is misclassified as missing and appended again,
    # duplicating the streamed set (ADVICE r3)
    from morra_spark.sources.tableio import read_existing_parquet
    prev = read_existing_parquet(spark, sink)
    if prev is not None:
        # batch_id is the partition column — max() reads directory names
        # only, FS-agnostic (works on object stores, unlike a listdir)
        row = prev.agg(F.max("batch_id")).first()
        max_prev = max(max_prev, int(row[0]) if row[0] is not None else 0)
        key = ["conv_id", "turn_idx", "subj", "pred", "obj",
               "subj_ne", "obj_ne"]
        have = prev.select(*key)
        missing = want.join(have, key, "left_anti")
    else:  # no prior output: everything is missing
        missing = want
    next_id = max_prev + 1
    missing = missing.persist()
    try:
        n = missing.count()
        if n:
            (missing.write.mode("overwrite")
             .parquet(f"{sink}/batch_id={next_id}"))
    finally:
        missing.unpersist()
    return {"n_backfilled": n, "batch_id": next_id}


def _require_source_columns(spark: SparkSession, path: str,
                            cols: list[str]) -> None:
    """Verify the source files ACTUALLY carry ``cols`` before starting
    a streaming query over them: a pinned readStream schema silently
    NULL-fills columns the parquet footers lack, and for an event-time
    column that means a watermark pinned at 0 and state that never
    expires (code-review r5). One footer-schema read; an empty/absent
    source dir is allowed (nothing to contradict the pin yet)."""
    from morra_spark.sources.tableio import read_existing_parquet

    existing = read_existing_parquet(spark, path)
    if existing is None:
        return
    missing = [c for c in cols if c not in existing.columns]
    if missing:
        raise ValueError(
            f"streaming source {path} lacks column(s) {missing}: the "
            f"pinned schema would silently NULL-fill them (for 'ts' "
            f"that freezes the watermark at 0 and state never expires)")


def read_tool_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Conflict-resolving reader over the tool-triple sink: one row per
    tool-turn identity (conv_id, turn_idx, pred, obj), the row from the
    HIGHEST batch_id winning — backfill corrections (batch ids ≥
    BACKFILL_BATCH_BASE) supersede streamed rows, equal-batch ties
    break deterministically on (subj, subj_ne). The read-side half of
    the append-only supersede protocol ``backfill_tool_triples``
    documents. One window over the sink at tool-triple grain."""
    from pyspark.sql.window import Window

    df = spark.read.parquet(f"{out_dir}/tool_triples")
    w = Window.partitionBy("conv_id", "turn_idx", "pred", "obj") \
        .orderBy(F.col("batch_id").desc(), "subj", "subj_ne")
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "batch_id"))


def start_stateful_tool_alignment(spark: SparkSession, *,
                                  transcripts_path: str, out_dir: str,
                                  model_path: str, checkpoint_location: str,
                                  max_files_per_trigger: int = 1,
                                  trigger_available_now: bool = False):
    """Streaming query: transcripts → stateful alignment → idempotent
    per-batch_id parquet sink (same retry-safe layout as the stateless
    sink). Returns the StreamingQuery."""
    from morra_spark.model_artifact import KGModel
    from morra_spark.streaming.incremental import read_transcript_stream

    model = KGModel.load(model_path)
    model_bc = spark.sparkContext.broadcast(model)
    _require_source_columns(
        spark, transcripts_path,
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    stream = read_transcript_stream(spark, transcripts_path,
                                    max_files_per_trigger)
    triples = aligned_tool_triples(stream, model_bc)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .parquet(f"{out_dir}/tool_triples/batch_id={batch_id}"))

    writer = (triples.writeStream
              .option("checkpointLocation", checkpoint_location)
              .foreachBatch(write_batch)
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


PRON_STATE_SCHEMA = ("last_idx int, ante_at int, subj string,"
                     " subj_ne string, ante_pred string, ante_obj string,"
                     " prev_at int, prev_subj string, prev_ne string")


def _ante_key(s, p, o, ne):
    """Null-first total order over an anchor row — the tuple twin of
    the sort's na_position='first', so cross-batch running-max picks
    the same row the batch window's last() would."""
    return tuple((v is not None, v if v is not None else "")
                 for v in (s, p, o, ne))


def _pronoun_fn(pronouns: tuple, max_gap: int | None, state_ttl_ms: int):
    pron = {p.lower() for p in pronouns}

    def resolve(key, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        cols = ["conv_id", "turn_idx", "subj", "pred", "obj",
                "subj_ne", "obj_ne"]
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=cols)
            return
        (last_idx, ante_at, ante, ante_ne, ante_pred, ante_obj,
         prev_at, prev_ante, prev_ne) = (
            state.get if state.exists
            else (-1, -1, None, None, None, None, -1, None, None))
        chunks = [c for c in pdfs if len(c)]
        pdf = (pd.concat(chunks, ignore_index=True) if chunks
               else pd.DataFrame(columns=cols))
        # same straggler guard + whole-group materialization as the
        # tool aligner (one group can span Arrow chunks). The guard is
        # `>=`, NOT `>`: micro-batch file boundaries do not respect
        # turn grain, so the high-water turn may continue in the next
        # batch — the old strict filter silently DROPPED those rows
        # (code-review r5). Only turns strictly below the high-water
        # mark are late (recovery = backfill, as documented).
        # na_position='first' matches Spark's asc_nulls_first window
        # order, so the 'largest content row' tie-break agrees with the
        # batch operator even when subj_ne is null on some duplicates.
        pdf = pdf[pdf["turn_idx"] >= last_idx] \
            .sort_values(["turn_idx", "subj", "pred", "obj", "subj_ne"],
                         kind="stable", na_position="first")
        outs = []
        if len(pdf):
            for t, grp in pdf.groupby("turn_idx", sort=True):
                t = int(t)
                # antecedent visible to THIS turn's pronouns — never
                # the turn's own anchor: when the stored anchor already
                # sits at t (the boundary turn continuing in this
                # batch), fall back to the previous turn's antecedent,
                # exactly what the earlier slice of turn t resolved with
                if ante_at < t:
                    use_ante, use_ne, use_at = ante, ante_ne, ante_at
                else:
                    use_ante, use_ne, use_at = prev_ante, prev_ne, prev_at
                # null-safe classification, identical to the batch
                # operator: a null subj is NOT a pronoun (passes
                # through) and NEVER serves as an antecedent —
                # pandas NaN would otherwise slip into string state
                subjs = _strs(grp["subj"])
                is_p = pd.Series(
                    [s is not None and s.lower() in pron for s in subjs],
                    index=grp.index).to_numpy()
                content, prows = grp[~is_p], grp[is_p]
                if len(content):
                    outs.append(content)
                if len(prows) and use_ante is not None and (
                        max_gap is None or t - use_at <= max_gap):
                    r = prows.copy()
                    r["subj"] = use_ante
                    r["subj_ne"] = use_ne
                    outs.append(r)
                anchors = content[content["subj"].apply(
                    lambda v: isinstance(v, str))]
                if len(anchors):
                    # batch-parity antecedent: the lexicographically
                    # largest (subj, pred, obj, subj_ne) content row
                    mx = anchors.iloc[-1]  # already sorted
                    cand = (mx["subj"],
                            mx["pred"] if isinstance(mx["pred"], str)
                            else None,
                            mx["obj"] if isinstance(mx["obj"], str)
                            else None,
                            mx["subj_ne"] if isinstance(mx["subj_ne"], str)
                            else None)
                    if ante_at == t:
                        # boundary turn grew across batches: keep the
                        # running max so the stored anchor equals the
                        # batch pick over ALL of the turn's rows
                        if _ante_key(*cand) > _ante_key(
                                ante, ante_pred, ante_obj, ante_ne):
                            ante, ante_pred, ante_obj, ante_ne = cand
                    else:
                        prev_at, prev_ante, prev_ne = ante_at, ante, ante_ne
                        ante_at = t
                        ante, ante_pred, ante_obj, ante_ne = cand
            last_idx = int(pdf["turn_idx"].iloc[-1])

        def _s(v):
            return v if isinstance(v, str) else None

        state.update((last_idx, ante_at, _s(ante), _s(ante_ne),
                      _s(ante_pred), _s(ante_obj),
                      prev_at, _s(prev_ante), _s(prev_ne)))
        # same first-batch TTL registration as the tool aligner
        # (code-review r5): wm==0 in batch 0 must not skip the timeout
        _set_event_time_ttl(state, pdf, state_ttl_ms)
        yield (pd.concat(outs, ignore_index=True)[cols] if outs
               else pd.DataFrame(columns=cols))

    return resolve


def resolve_pronouns_stream(triples_stream: DataFrame,
                            pronouns: tuple = ("it", "they", "he", "she",
                                               "this", "that"),
                            max_gap: int | None = None,
                            state_ttl: str = "1 hour",
                            delay: str = "10 minutes") -> DataFrame:
    """Streaming twin of ``operators/coref.resolve_triple_anaphora`` —
    coref-lite over a LIVE triple stream with per-conversation keyed
    state, so pronoun-subject triples resolve even when their
    antecedent turn landed in an earlier micro-batch.

    State per conversation is O(1): (high-water turn_idx, anchor row of
    the latest content turn, the PREVIOUS turn's antecedent) — the same
    bounded-state contract as the tool aligner, with the same
    event-time TTL. The high-water turn itself may CONTINUE across
    micro-batches (file boundaries do not respect turn grain): its late
    rows are admitted, resolve against the previous-turn antecedent the
    earlier slice used, and the stored anchor keeps a running max so
    parity with the batch window holds (code-review r5). Only turns
    strictly below the high-water mark are dropped (recovery = re-run
    the batch operator over the affected history, exactly like
    ``backfill_tool_triples``).

    Parity contract (test-asserted): over the same triples, streamed
    output ≡ ``resolve_triple_anaphora`` row-for-row — non-pronoun rows
    pass through, resolvable pronouns rewrite to the latest earlier
    turn's largest (subj, pred, obj) content row, unresolvable ones
    drop. Input needs the triple columns + ``ts`` for the watermark.
    """
    ttl_ms = _duration_ms(state_ttl)
    narrowed = triples_stream.withWatermark("ts", delay)
    return (narrowed.groupBy("conv_id")
            .applyInPandasWithState(
                _pronoun_fn(tuple(pronouns), max_gap, ttl_ms),
                outputStructType=TOOL_TRIPLE_SCHEMA,
                stateStructType=PRON_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def start_streaming_pronoun_resolution(spark: SparkSession, *,
                                       triples_path: str, out_dir: str,
                                       checkpoint_location: str,
                                       pronouns: tuple = ("it", "they",
                                                          "he", "she",
                                                          "this", "that"),
                                       max_gap: int | None = None,
                                       max_files_per_trigger: int = 1,
                                       trigger_available_now: bool = False):
    """Streaming query: triple stream → coref-lite resolution →
    idempotent per-batch_id parquet sink (the same retry-safe layout as
    every other streaming sink here). Returns the StreamingQuery.

    Input files must carry the triple columns + ``ts``. A pinned
    readStream schema alone does NOT fail on a drifted producer —
    Spark fills a missing parquet column with silent NULLs, and a
    NULL ``ts`` pins the watermark at 0 so state never expires
    (code-review r5) — so the columns are verified against the actual
    file footers at start and missing ones raise immediately.
    """
    _require_source_columns(
        spark, triples_path,
        ["conv_id", "turn_idx", "subj", "pred", "obj",
         "subj_ne", "obj_ne", "ts"])
    stream = (spark.readStream
              .schema(TOOL_TRIPLE_SCHEMA + ", ts timestamp")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(triples_path))
    resolved = resolve_pronouns_stream(stream, pronouns=pronouns,
                                       max_gap=max_gap)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .parquet(f"{out_dir}/batch_id={batch_id}"))

    writer = (resolved.writeStream
              .option("checkpointLocation", checkpoint_location)
              .foreachBatch(write_batch)
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_tool_triples(content_stream: DataFrame,
                               tool_stream: DataFrame, model_bc,
                               delay: str = "10 minutes",
                               lookback: str = "1 hour") -> DataFrame:
    """STREAM-STREAM JOIN tier (VERDICT r3 next #6): tool turns arriving
    on a SEPARATE stream from content turns — two independent sources
    (e.g. an agent-events topic and a transcript topic) joined inside
    the watermark, the one Structured-Streaming operator class the
    single-interleaved-stream aligner (``aligned_tool_triples``) does
    not cover.

    Plan shape: content turns are annotated once (same mapInPandas
    cascade) and watermarked; the tool stream is watermarked
    independently; an INNER stream-stream join on conv_id with the
    time-range condition ``tool.ts - lookback <= content.ts <= tool.ts``
    (plus ``content.turn_idx < tool.turn_idx``) bounds BOTH sides' join
    state — Spark evicts content rows once the tool-side watermark
    passes ``content.ts + lookback``. Because several content turns can
    precede one tool turn, a chained streaming aggregation (second
    stateful operator; Spark >= 3.5 watermark propagation) picks the
    NEAREST preceding content turn per tool turn via ``max_by`` over
    turn_idx, windowed on the tool turn's own event time so append mode
    can finalize each group. A nearest content turn that carried no
    subject is a blocker (emits nothing) — identical semantics to the
    batch aligner and the keyed-state form.

    Semantics contract (test-asserted): for tool turns whose invoking
    content turn lies within ``lookback``, the emitted triples equal the
    batch aligner's on the merged log. A content turn older than
    ``lookback`` is out of join state by construction — the documented
    trade every stream-stream join makes; the recovery path for dropped
    history is ``backfill_tool_triples``, same as the keyed-state form.
    """
    c = (turns_with_align_subject(content_stream, model_bc)
         .filter(F.col("role") != "tool")
         .select(F.col("conv_id").alias("c_conv"),
                 F.col("turn_idx").alias("c_idx"),
                 "subj", "subj_ne", F.col("ts").alias("c_ts"))
         .withWatermark("c_ts", delay))
    t = (tool_stream
         .filter((F.col("role") == "tool") & F.col("tool").isNotNull())
         .select("conv_id", "turn_idx", "tool", "ts")
         .withWatermark("ts", delay))
    # the JOIN condition carries ONLY the equi-key and the two event-time
    # range conjuncts: StreamingJoinHelper derives its state-eviction
    # watermark constraint from the time conditions, and an extra
    # non-time conjunct (c_idx < turn_idx) in the ON clause makes the
    # extraction fail with a logged error — state would then only be
    # bounded by one side. The ordering conjunct is an inner-join-
    # equivalent post-join filter instead.
    joined = t.join(
        c,
        (F.col("conv_id") == F.col("c_conv"))
        & (F.col("c_ts") <= F.col("ts"))
        & (F.col("c_ts") >= F.col("ts") - F.expr(f"INTERVAL {lookback}")),
        "inner").filter(F.col("c_idx") < F.col("turn_idx"))
    return (joined
            .groupBy(F.window("ts", "1 second").alias("w"),
                     "conv_id", "turn_idx", "tool")
            .agg(F.expr("max_by(subj, c_idx)").alias("subj"),
                 F.expr("max_by(subj_ne, c_idx)").alias("subj_ne"))
            .filter(F.col("subj").isNotNull())  # blocker suppression
            .select("conv_id", "turn_idx", "subj",
                    F.lit(TOOL_PRED).alias("pred"),
                    F.col("tool").alias("obj"),
                    "subj_ne", F.lit("Tool").alias("obj_ne")))
