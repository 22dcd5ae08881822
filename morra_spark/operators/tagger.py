"""The fused annotation stage: tokenize → POS → lemma → NER → mentions →
triples, in ONE map-only Arrow pass.

This is the engine's hot loop (SURVEY.md §2 A5–A12, §4.3). Everything
that is turn-local stays inside the row: token arrays, mention spans and
candidate triples are computed per Arrow batch with numpy-vectorized
scoring (broadcast model weights, zero per-row Python UDFs) and emitted
as nested columns — so the stage is pipelined map tasks with NO shuffle,
which is exactly what keeps N→4N scaling efficiency ≥ 0.8: the only
exchanges in the flagship plan are the ones the plan *wants*
(SURVEY.md §4.3).

Morra parity: the cascade order (POS → lemma → NER, NER consuming
predicted POS/lemma-adjacent features) mirrors
[PK] morra/morph_parser*.py::predict / predict_sents; the greedy
left-to-right decode with predicted-prev-tag features mirrors
[PK] morra/base_parser.py::_AveragedPerceptron.predict — but batched
across all turns of an Arrow batch instead of one token at a time.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from morra_spark.operators import features_fast as FF
from morra_spark.operators.ner_combine import (binary_margins,
                                               combine_joint_separate)
from morra_spark.operators.spans import assemble_batch
from morra_spark.operators.tokenizer import tokenize_one

TOKENS_FIELD = ("array<struct<token_id:int,start:int,len:int,form:string,"
                "lemma:string,upos:string,feats:map<string,string>,ne:string>>")
MENTIONS_FIELD = ("array<struct<mention_id:int,tok_start:int,tok_end:int,"
                  "surface:string,lemma_norm:string,ne_type:string>>")
TRIPLES_FIELD = ("array<struct<subj:string,pred:string,obj:string,"
                 "subj_ne:string,obj_ne:string>>")

ANNOTATED_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string,"
    f" ts timestamp, tokens {TOKENS_FIELD}, mentions {MENTIONS_FIELD},"
    f" triples {TRIPLES_FIELD}"
)

# slim output for the triple path: Catalyst cannot prune columns through
# an opaque mapInPandas, so the pruning is done HERE — the flagship never
# pays Arrow transfer + JVM row conversion for token/mention arrays it
# drops one operator later (SURVEY.md §4.2 "select-narrow before B-U2")
TRIPLES_ONLY_SCHEMA = f"conv_id string, turn_idx int, triples {TRIPLES_FIELD}"


def _annotate_pdf(pdf: pd.DataFrame, model, triples_only: bool = False) -> pd.DataFrame:
    """Annotate one Arrow batch of turn rows. Pure function of (batch,
    broadcast model) — unit-testable without Spark. Features come from
    the Arrow kernels in features_fast, whose ids equal the features.py
    reference (the training path) by parity test."""
    # null text is EMPTY, not the string 'None': a bare astype(str)
    # stringifies None/NaN into a capitalized pseudo-token the NER can
    # tag, minting phantom mentions/triples (code-review r5)
    texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
    tok_lists = [tokenize_one(t) for t in texts]

    counts = np.fromiter((len(t) for t in tok_lists), np.int64, len(tok_lists))
    starts = np.zeros(len(counts) + 1, np.int64)
    np.cumsum(counts, out=starts[1:])
    n = int(starts[-1])

    forms_list = [f for toks in tok_lists for (_s, _l, f) in toks]
    seq_ids = np.repeat(np.arange(len(counts)), counts)

    if n:
        upos_np, lemma_np, ne, feats_list = _run_cascade(
            model, forms_list, seq_ids, starts, n, triples_only)
        tok_starts = np.fromiter(
            (st for toks in tok_lists for (st, _l, _f) in toks), np.int64, n)
        tok_lens = np.fromiter(
            (ln for toks in tok_lists for (_s, ln, _f) in toks), np.int64, n)
        forms_np = np.array(forms_list, dtype=object)
        mentions_col, triples_col = assemble_batch(
            texts, seq_ids, starts, tok_starts, tok_lens,
            lemma_np, upos_np, ne, forms_np,
            build_mentions=not triples_only)
    else:
        upos_np = lemma_np = ne = np.empty(0, dtype=object)
        feats_list = None
        mentions_col = [[] for _ in texts]
        triples_col = [[] for _ in texts]

    if triples_only:
        out = pdf[["conv_id", "turn_idx"]].copy()
        out["triples"] = triples_col
        return out

    tokens_col = []
    for i, toks in enumerate(tok_lists):
        s = int(starts[i])
        tokens_col.append([
            {"token_id": j, "start": st, "len": ln, "form": f,
             "lemma": lemma_np[s + j], "upos": upos_np[s + j],
             "feats": feats_list[s + j] if feats_list is not None else {},
             "ne": ne[s + j]}
            for j, (st, ln, f) in enumerate(toks)
        ])
    out = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].copy()
    out["tokens"] = tokens_col
    out["mentions"] = mentions_col
    out["triples"] = triples_col
    return out


_NER_CTX = ("upos", "pupos", "nupos")


def _run_cascade(model, forms_list: list, seq_ids: np.ndarray,
                 starts: np.ndarray, n: int, triples_only: bool):
    """POS → lemma → NER(→combine) → FEATS over one flat token batch.
    Returns (upos, lemma, ne, feats_list-or-None) object arrays."""
    classes_pos = model.pos.classes
    bf = FF.BatchFeatures(forms_list, seq_ids)
    pos_ids = FF.pos_feature_ids(model.pos, bf, model.dict_tag)
    pred = model.pos.decode_batch(model.pos.static_scores(pos_ids, n), starts)
    # A8 two-pass ensemble (opt-in): backward level-1 pass + level-2
    # model consuming both passes' context (incl. future tags).
    # pos_mode='voting' adds the level-3 ensemble on top:
    # [PK] morra/morph_parser3.py::MorphParser3 — per-token majority
    # vote over the variant taggers (fwd, bwd, level-2); with three
    # voters any 2-1 agreement wins and a 1-1-1 split falls to the
    # strongest variant (level-2), so the vote is one vectorized
    # np.where over the three id arrays.
    pos2 = getattr(model, "pos2", None)
    mode = model.meta.get("pos_mode")
    if pos2 is not None and mode in ("two_pass", "voting"):
        rev_ids = FF.pos_feature_ids(model.pos_rev, bf, model.dict_tag)
        pred_b = model.pos_rev.decode_batch(
            model.pos_rev.static_scores(rev_ids, n), starts, reverse=True)
        p2_ids = FF.pos2_feature_ids(pos2, bf, pred, pred_b, classes_pos)
        pred2 = pos2.decode_batch(pos2.static_scores(p2_ids, n), starts)
        pred = (np.where(pred == pred_b, pred, pred2) if mode == "voting"
                else pred2)
    upos_np = np.array(classes_pos, dtype=object)[pred]
    # bf.lower (not raw utf8_lower): carries the Python-str.lower
    # fallback for non-ASCII tokens, keeping the lemma dict keys
    # bit-identical to lemmatizer.lemmatize (Unicode-table parity)
    lemma_np = FF.lemmatize_fast(
        bf.lower, pa.array(upos_np, pa.string()), model.lemma_rules)

    def ner_ids(m):
        tab = FF.class_row_tables(m, _NER_CTX, classes_pos)
        ctx = FF.tag_context_ids(tab, pred, seq_ids, _NER_CTX)
        return FF.ner_feature_ids(m, bf, ctx, model.gazetteer)

    ne = np.array(model.ner.classes, dtype=object)[model.ner.decode_batch(
        model.ner.static_scores(ner_ids(model.ner), n), starts)]
    ner_sep = getattr(model, "ner_sep", None)
    if ner_sep and model.meta.get("ner_mode") == "combine":
        types, margins = binary_margins(
            ner_sep, {t: ner_ids(m) for t, m in ner_sep.items()}, n)
        ne = combine_joint_separate(ne, None, types, margins)

    feats_sep = getattr(model, "feats_sep", None)
    if feats_sep and not triples_only:
        from morra_spark.operators import feats as FE

        fe_ids = {k: FF.feats_feature_ids(m, bf, pred, classes_pos)
                  for k, m in feats_sep.items()}
        feats_list = FE.predict_feats_separate(feats_sep, fe_ids, starts, n)
    else:
        feats_list = None
    return upos_np, lemma_np, ne, feats_list


def annotate_turns(df: DataFrame, model_bc) -> DataFrame:
    """transcripts → turns_annotated (tokens + mentions + triples nested).

    ``model_bc``: a ``Broadcast[KGModel]``. Map-only; no shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_bc.value
        for pdf in batches:
            if len(pdf):
                yield _annotate_pdf(pdf, model)

    return df.mapInPandas(run, schema=ANNOTATED_SCHEMA)


def extract_turn_triples(df: DataFrame, model_bc) -> DataFrame:
    """transcripts → (conv_id, turn_idx, triples) — the slim flagship
    stage. Same cascade, but only the triple arrays cross the Arrow
    boundary (≈5× less transfer + JVM row-conversion than full
    annotation). Input should be pre-filtered (role != 'tool') so the
    predicate runs JVM-side BEFORE the Python stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_bc.value
        for pdf in batches:
            if len(pdf):
                yield _annotate_pdf(pdf, model, triples_only=True)

    # 3-column input: role/tool/ts never cross into Python either.
    return df.select("conv_id", "turn_idx", "text") \
             .mapInPandas(run, schema=TRIPLES_ONLY_SCHEMA)
