"""Mention-span assembly + verb-head predicate extraction (turn-local).

BIO-collapsed span assembly (SURVEY.md §2 B-W4 semantics, executed
in-row): contiguous runs of tokens sharing a non-O NE label form one
mention; sentence segmentation at sentence-final PUNCT; for each VERB
head, the nearest mention before it is the subject and the nearest
mention after it (within the sentence) the object — the
"predicate extraction from POS/lemma patterns on verb heads" of the
north star. Canonicalization: a mention's ``lemma_norm`` is the
space-join of its tokens' lemmata ("canonicalization of surface forms to
lemmata").

These are pure functions over one turn's token list — unit-testable
without Spark — called from inside the fused Arrow stage so span
assembly costs ZERO shuffles (the relational window formulation of B-W4
exists as an oracle-checked query in ``__spark_entry__.py``; at 100 TB
the in-row form is strictly better: no explode, no exchange).
"""

from __future__ import annotations

import numpy as np


def assemble_batch(texts: list[str], seq_ids: np.ndarray, starts: np.ndarray,
                   tok_starts: np.ndarray, tok_lens: np.ndarray,
                   lemma: np.ndarray, upos: np.ndarray, ne: np.ndarray,
                   forms: np.ndarray, build_mentions: bool = True):
    """Vectorized batch version of ``assemble_mentions_and_triples``:
    span boundaries, sentence ids, and verb→mention pairing are global
    numpy ops over the flat token arrays; Python only touches the (few)
    mentions and verbs, not every token. Semantics are asserted identical
    to the per-row reference by ``tests/test_spans.py``.

    Returns (mentions_col, triples_col): per-turn lists of dicts in the
    same shapes the Arrow schema expects. ``build_mentions=False`` (the
    triples-only flagship path) skips the per-mention output dicts,
    surface slicing, and id bookkeeping — triples need only each
    mention's lemma_norm + ne — measured ~25% of this function's time.
    """
    n = len(ne)
    n_rows = len(texts)
    mentions_col: list[list[dict]] = \
        [[] for _ in range(n_rows)] if build_mentions else []
    triples_col: list[list[dict]] = [[] for _ in range(n_rows)]
    if n == 0:
        return mentions_col, triples_col

    seq_change = np.ones(n, bool)
    seq_change[1:] = seq_ids[1:] != seq_ids[:-1]
    label_change = np.ones(n, bool)
    label_change[1:] = ne[1:] != ne[:-1]
    run_start = np.nonzero(seq_change | label_change)[0]
    run_end = np.empty_like(run_start)
    run_end[:-1] = run_start[1:] - 1
    run_end[-1] = n - 1

    # sentence id = #periods strictly before the token, reset per sequence
    is_period = (upos == "PUNCT") & (forms == ".")
    c = np.zeros(n + 1, np.int64)
    np.cumsum(is_period, out=c[1:])
    seq_start_of = starts[seq_ids]  # global index of each token's seq start
    sent_of = c[:-1] - c[seq_start_of]

    ent = ne[run_start] != "O"
    m_start, m_end = run_start[ent], run_end[ent]
    m_seq = seq_ids[m_start]
    m_ne = ne[m_start]
    m_sent_end = sent_of[m_end]    # subj matching uses sentence of span end
    m_sent_start = sent_of[m_start]

    # per-mention strings (few mentions per batch relative to tokens)
    m_lemma_norm = [" ".join(lemma[int(s):int(e) + 1])
                    for s, e in zip(m_start, m_end)]
    if build_mentions:
        next_id: dict[int, int] = {}
        for k in range(len(m_start)):
            s, e = int(m_start[k]), int(m_end[k])
            row = int(m_seq[k])
            base = int(starts[row])
            t0 = int(tok_starts[s])
            t1 = int(tok_starts[e]) + int(tok_lens[e])
            mid = next_id.get(row, 0)
            next_id[row] = mid + 1
            mentions_col[row].append({
                "mention_id": mid,
                "tok_start": s - base, "tok_end": e - base,
                "surface": texts[row][t0:t1],
                "lemma_norm": m_lemma_norm[k], "ne_type": m_ne[k],
            })

    verbs = np.nonzero(upos == "VERB")[0]
    if len(verbs) and len(m_start):
        # nearest mention ending before the verb / starting after it,
        # within the same sequence AND sentence: searchsorted over the
        # globally sorted span arrays + validity checks
        sj = np.searchsorted(m_end, verbs) - 1          # candidate subj
        oj = np.searchsorted(m_start, verbs, "right")   # candidate obj
        v_seq = seq_ids[verbs]
        v_sent = sent_of[verbs]
        for i in range(len(verbs)):
            v = int(verbs[i])
            j = int(sj[i])
            subj = None
            while j >= 0 and m_seq[j] == v_seq[i]:
                if m_end[j] < v and m_sent_end[j] == v_sent[i]:
                    subj = j
                    break
                j -= 1
            k = int(oj[i])
            obj = None
            while k < len(m_start) and m_seq[k] == v_seq[i]:
                if m_start[k] > v and m_sent_start[k] == v_sent[i]:
                    obj = k
                    break
                k += 1
            if subj is not None and obj is not None:
                triples_col[int(v_seq[i])].append({
                    "subj": m_lemma_norm[subj], "pred": lemma[v],
                    "obj": m_lemma_norm[obj],
                    "subj_ne": m_ne[subj], "obj_ne": m_ne[obj],
                })
    return mentions_col, triples_col


def assemble_mentions_and_triples(tokens: list[dict], text: str):
    """tokens: [{token_id,start,len,form,lemma,upos,ne}, ...] in order.

    Returns (mentions, triples):
      mentions: [{mention_id, tok_start, tok_end, surface, lemma_norm, ne_type}]
      triples:  [{subj, pred, obj, subj_ne, obj_ne}] with subj/obj = lemma_norm
    """
    mentions: list[dict] = []
    cur_start = -1
    cur_ne = "O"

    def close(end_idx: int) -> None:
        if cur_ne != "O" and cur_start >= 0:
            first, last = tokens[cur_start], tokens[end_idx]
            surface = text[first["start"]: last["start"] + last["len"]]
            lemma_norm = " ".join(t["lemma"] for t in tokens[cur_start: end_idx + 1])
            mentions.append({
                "mention_id": len(mentions),
                "tok_start": cur_start, "tok_end": end_idx,
                "surface": surface, "lemma_norm": lemma_norm, "ne_type": cur_ne,
            })

    for i, t in enumerate(tokens):
        ne = t["ne"]
        if ne != cur_ne:  # label change closes any open span
            close(i - 1)
            cur_start, cur_ne = i, ne
    close(len(tokens) - 1)

    # sentence boundaries: sentence-final "." tokens
    sent_of = []
    s = 0
    for t in tokens:
        sent_of.append(s)
        if t["upos"] == "PUNCT" and t["form"] == ".":
            s += 1

    triples: list[dict] = []
    for i, t in enumerate(tokens):
        if t["upos"] != "VERB":
            continue
        sent = sent_of[i]
        subj = obj = None
        for m in mentions:  # nearest mention before the verb, same sentence
            if m["tok_end"] < i and sent_of[m["tok_end"]] == sent:
                if subj is None or m["tok_end"] > subj["tok_end"]:
                    subj = m
        for m in mentions:  # nearest mention after the verb, same sentence
            if m["tok_start"] > i and sent_of[m["tok_start"]] == sent:
                if obj is None or m["tok_start"] < obj["tok_start"]:
                    obj = m
        if subj is not None and obj is not None:
            triples.append({
                "subj": subj["lemma_norm"], "pred": t["lemma"],
                "obj": obj["lemma_norm"],
                "subj_ne": subj["ne_type"], "obj_ne": obj["ne_type"],
            })
    return mentions, triples
