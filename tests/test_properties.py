"""Property-based invariants (hypothesis) — SURVEY.md §5: the engine's
row-level contracts must hold on ARBITRARY unicode input, not just the
grammar fixtures. Pure-Python targets (tokenizer, cascade batch fn,
shingle guards, decode) — no SparkSession needed, so the suite stays
fast and deterministic (derandomized profile)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from morra_spark.operators.tokenizer import TOKEN_RE, detokenize, tokenize_one

# arbitrary unicode incl. surrogont-free text, emoji, control chars
TEXTS = st.text(max_size=300)


@settings(max_examples=300, deadline=None)
@given(TEXTS)
def test_tokenizer_offsets_slice_back_exactly(text):
    """(start, len) always slices the original text to the form —
    the per-turn text-equality anchor (BASELINE.json input_hint)."""
    toks = tokenize_one(text)
    for start, length, form in toks:
        assert text[start:start + length] == form
        assert length == len(form) > 0
    # offsets strictly increase and never overlap
    ends = [s + l for s, l, _f in toks]
    starts = [s for s, _l, _f in toks]
    assert all(e <= s2 for e, s2 in zip(ends, starts[1:]))


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_tokenizer_covers_all_non_space(text):
    """Every non-whitespace character lands inside exactly one token —
    nothing silently dropped, so annotation sees the whole turn."""
    covered = np.zeros(len(text), bool)
    for start, length, _form in tokenize_one(text):
        assert not covered[start:start + length].any()  # no double-cover
        covered[start:start + length] = True
    for i, ch in enumerate(text):
        if not ch.isspace():
            assert covered[i], (i, ch)


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_detokenize_roundtrip(text):
    toks = tokenize_one(text)
    spans = [(s, l) for s, l, _f in toks]
    out = detokenize(text, spans)
    if spans:
        assert out == text[spans[0][0]:spans[-1][0] + spans[-1][1]]
    else:
        assert out == ""


@settings(max_examples=50, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=8))
def test_annotate_batch_total_on_arbitrary_text(model, texts):
    """The fused cascade is TOTAL on arbitrary batches: never raises,
    emits one output row per input row, every triple's strings are
    non-null — the map-stage must survive any corpus byte soup."""
    import pandas as pd

    from morra_spark.operators.tagger import _annotate_pdf

    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": range(len(texts)),
        "text": texts,
    })
    out = _annotate_pdf(pdf, model, triples_only=True)
    assert len(out) == len(texts)
    for tri_list in out["triples"]:
        for t in tri_list:
            assert t["subj"] and t["pred"] and t["obj"]


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_decode_batch_matches_per_sequence_decode(data):
    """Batch-vectorized greedy decode == decoding each sequence alone:
    sequences in one Arrow batch can never influence each other."""
    from morra_spark.operators.perceptron import Family, PerceptronModel

    n_cls = data.draw(st.integers(2, 4))
    vocab_n = 5
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    classes = [f"C{i}" for i in range(n_cls)]
    prev_vocab = {c: i for i, c in enumerate(classes)}
    prev_vocab["<S>"] = len(prev_vocab)
    fams = {
        "f": Family(vocab={f"v{i}": i for i in range(vocab_n)},
                    w=rng.normal(size=(vocab_n + 1, n_cls)).astype(np.float32)),
        "prev": Family(vocab=prev_vocab,
                       w=rng.normal(size=(len(prev_vocab) + 1, n_cls)).astype(np.float32)),
    }
    m = PerceptronModel(classes=classes, families=fams,
                        bias=rng.normal(size=n_cls).astype(np.float32))
    lens = data.draw(st.lists(st.integers(1, 6), min_size=1, max_size=5))
    starts = np.concatenate([[0], np.cumsum(lens)])
    n = int(starts[-1])
    ids = {"f": rng.integers(0, vocab_n + 1, size=n)}
    static = m.static_scores(ids, n)

    batched = m.decode_batch(static, starts)
    for s, e in zip(starts[:-1], starts[1:]):
        solo = m.decode_batch(static[s:e], np.array([0, e - s]))
        assert (batched[s:e] == solo).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=20),
                max_size=30))
def test_lemmatize_fast_matches_pandas_reference(model, forms):
    """Arrow-kernel lemmatizer == pandas reference lemmatizer on
    arbitrary unicode forms (extends the fixed-corpus parity test of
    test_features_fast to generated inputs)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from morra_spark.operators.features_fast import lemmatize_fast
    from morra_spark.operators.lemmatizer import lemmatize

    forms = [f for f in forms if f]
    if not forms:
        return
    upos = ["NOUN", "VERB", "PROPN", "ADJ"] * (len(forms) // 4 + 1)
    upos = upos[:len(forms)]
    fast = lemmatize_fast(
        pc.utf8_lower(pa.array(forms, pa.string())),
        pa.array(upos, pa.string()), model.lemma_rules)
    ref = lemmatize(pd.Series(forms, dtype=object).str.lower(),
                    pd.Series(upos, dtype=object), model.lemma_rules)
    assert list(fast) == ref.tolist()


@settings(max_examples=60, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=6))
def test_feature_ids_match_reference_on_arbitrary_text(model, texts):
    """Arrow-kernel POS and NER feature ids == the features.py reference
    ids on ARBITRARY unicode — the r1 advice found the two paths
    diverging on non-ASCII (RE2/utf8proc vs CPython Unicode tables);
    this pins the fix against generated inputs, not just the curated
    edge-text corpus of test_features_fast. Lemma parity on generated
    forms is test_lemmatize_fast_matches_pandas_reference."""
    import pandas as pd

    from morra_spark.operators import features as FT
    from morra_spark.operators import features_fast as FF

    tok_lists = [tokenize_one(t) for t in texts]
    forms_list = [f for toks in tok_lists for (_s, _l, f) in toks]
    if not forms_list:
        return
    counts = [len(t) for t in tok_lists]
    starts = np.concatenate([[0], np.cumsum(counts)])
    seq_ids = np.repeat(np.arange(len(counts)), counts)
    n = len(forms_list)
    forms = pd.Series(forms_list, dtype=object)
    shared = FT.shared_static(forms, seq_ids)
    bf = FF.BatchFeatures(forms_list, seq_ids)

    def assert_same(ref, fast):
        assert set(ref) == set(fast)
        for name in ref:
            mism = ref[name] != fast[name]
            assert not mism.any(), (name, [forms_list[i]
                                           for i in np.nonzero(mism)[0]])

    pos_ref = FT.features_to_ids(
        model.pos, FT.pos_static_features(forms, seq_ids, model.dict_tag,
                                          shared=shared))
    assert_same(pos_ref, FF.pos_feature_ids(model.pos, bf, model.dict_tag))

    pred = model.pos.decode_batch(model.pos.static_scores(pos_ref, n), starts)
    upos = pd.Series(np.array(model.pos.classes, dtype=object)[pred])
    ner_ref = FT.features_to_ids(
        model.ner, FT.ner_static_features(forms, upos, seq_ids,
                                          model.gazetteer, shared=shared))
    ctx_names = ("upos", "pupos", "nupos")
    tab = FF.class_row_tables(model.ner, ctx_names, model.pos.classes)
    ctx = FF.tag_context_ids(tab, pred, seq_ids, ctx_names)
    assert_same(ner_ref, FF.ner_feature_ids(model.ner, bf, ctx,
                                            model.gazetteer))


# ---- Spark-backed randomized reference parity (module-scoped session
# via the shared get_spark; deterministic seeds, no hypothesis needed
# since the inputs are generated, not shrunk) ----

import pytest as _pytest


@_pytest.fixture(scope="module")
def spark():
    from morra_spark.session import get_spark
    return get_spark("test_properties_spark")


def test_normalized_dedup_matches_python_reference(spark):
    import hashlib
    import random
    import re
    from collections import defaultdict

    from morra_spark.operators.dedup import normalized_dup_groups

    rng = random.Random(23)
    base = ["Hello World", "Spark SQL engine", "data pipeline"]
    rows = []
    for i in range(60):
        t = rng.choice(base)
        t = t.upper() if rng.random() < 0.5 else t
        if rng.random() < 0.5:
            t = t + rng.choice(["!", "...", ",", ""])
        if rng.random() < 0.3:
            t = t.replace(" ", "   ")
        rows.append((i, t))

    def norm(t):
        t = re.sub(r"[^a-z0-9 ]", "", t.lower())
        return re.sub(r" +", " ", t).strip()

    groups = defaultdict(list)
    for i, t in rows:
        groups[hashlib.md5(norm(t).encode()).hexdigest()].append(i)
    expect = {k: (len(v), min(v)) for k, v in groups.items()
              if len(v) >= 2}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.norm_key: (r.n_docs, r.min_doc_id)
           for r in normalized_dup_groups(df).collect()}
    assert got == expect


def test_event_paths_matches_python_reference(spark):
    import random
    from collections import Counter, defaultdict

    from morra_spark.operators.funnel import top_event_paths

    rng = random.Random(31)
    types = ["signup", "view", "click", "purchase"]
    rows = []
    eid = 0
    per_user = defaultdict(list)
    for uid in range(50):
        for k in range(rng.randint(1, 7)):
            et = rng.choice(types)
            ts = f"2026-01-01 00:{k:02d}:00"
            rows.append((eid, ts, uid, et))
            per_user[uid].append((ts, eid, et))
            eid += 1
    ref = Counter(
        " > ".join(et for _ts, _e, et in sorted(evs)[:4])
        for evs in per_user.values())
    expect = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string") \
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
                    "event_type")
    got = [(r.path, r.n_users)
           for r in top_event_paths(df, max_len=4, top_k=8).collect()]
    assert got == expect


def test_adaptive_bounds_match_numpy_percentiles(spark):
    import numpy as np

    from morra_spark.operators.curation import adaptive_length_bounds

    rng = np.random.default_rng(5)
    lens = rng.integers(3, 400, size=80)
    rows = [(int(i), "en", " ".join(["w"] * int(n)))
            for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = adaptive_length_bounds(df).collect()
    lo = round(float(np.percentile(lens, 5)), 4)   # linear interpolation
    hi = round(float(np.percentile(lens, 95)), 4)
    assert out[0].lo == _pytest.approx(lo)
    assert out[0].hi == _pytest.approx(hi)
    for r in out:
        assert r.keep == (lo <= r.n_tokens <= hi)
