"""Weird text through the full cascade: must not crash, offsets must
slice back byte-exact, triples on junk must be empty-but-well-formed."""

from __future__ import annotations

import pandas as pd
import pytest


EDGE_TEXTS = [
    "",                                   # empty turn
    " ",                                  # whitespace only
    "…unicode—dashes…and §symbols¶",      # non-ASCII punctuation
    "emoji 🚀 in 🤖 text",                 # surrogate-pair emoji
    "x" * 5000,                           # one pathological token
    "Alice Ivanov founded Acme Corp.",    # normal grammar sentence
    "tab\tand\nnewline separated",        # control whitespace
    "ёлка наïve café",                    # non-ASCII letters
    '{"json": "blob", "n": 42}',          # tool-ish payload
]


@pytest.fixture(scope="module")
def edge_out(model):
    from morra_spark.operators.tagger import _annotate_pdf

    pdf = pd.DataFrame({
        "conv_id": [f"e{i}" for i in range(len(EDGE_TEXTS))],
        "turn_idx": 0, "role": "user", "text": EDGE_TEXTS,
        "tool": None, "ts": pd.Timestamp("2026-01-01"),
    })
    return _annotate_pdf(pdf, model)


def test_no_crash_and_offsets_slice_exact(edge_out):
    for _, r in edge_out.iterrows():
        for t in r["tokens"]:
            assert r["text"][t["start"]: t["start"] + t["len"]] == t["form"], r["text"]


def test_empty_and_whitespace_rows_have_no_tokens(edge_out):
    by_id = {r["conv_id"]: r for _, r in edge_out.iterrows()}
    assert by_id["e0"]["tokens"] == [] and by_id["e0"]["triples"] == []
    assert by_id["e1"]["tokens"] == []


def test_grammar_sentence_still_extracts(edge_out):
    by_id = {r["conv_id"]: r for _, r in edge_out.iterrows()}
    triples = by_id["e5"]["triples"]
    assert len(triples) == 1
    assert triples[0]["pred"] == "found"


def test_long_token_and_unicode_tokenized(edge_out):
    by_id = {r["conv_id"]: r for _, r in edge_out.iterrows()}
    assert by_id["e4"]["tokens"][0]["len"] == 5000
    assert len(by_id["e7"]["tokens"]) >= 3  # non-ASCII word chars split sanely


def test_edge_texts_through_spark_stage(spark, model):
    """Same payloads through the real mapInPandas stage (Arrow transfer
    of empty arrays, nulls, huge strings), plus a NULL text row: it
    crosses the boundary as None and must annotate to zero tokens and
    zero triples on both stages, not a stringified 'None' token."""
    from pyspark.sql import functions as F

    from morra_spark.operators.tagger import annotate_turns, extract_turn_triples

    rows = [(f"e{i}", 0, "user", t, None) for i, t in enumerate(EDGE_TEXTS)]
    rows.append(("null", 0, "user", None, None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))
    bc = spark.sparkContext.broadcast(model)
    ann = {r.conv_id: r for r in annotate_turns(df, bc).collect()}
    assert len(ann) == len(rows)
    assert ann["null"].text is None
    assert ann["null"].tokens == [] and ann["null"].triples == []
    slim = extract_turn_triples(df, bc)
    got = {r.conv_id: r.triples for r in slim.collect()}
    assert len(got["e5"]) == 1 and got["e0"] == []
    assert got["null"] == []
