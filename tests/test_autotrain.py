"""A16 autotrain: deterministic dev split, sweep selection, artifact
stamping — plus the A8 level-3 voting mode the sweep exercises."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from morra_spark.autotrain import (autotrain, eval_token_accuracy, split_dev,
                                   _score)

TINY_GRID = {"epochs": (1, 3), "seed": (42,)}


@pytest.fixture(scope="module")
def gold(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/gold_tokens").toPandas()


def test_split_dev_deterministic_and_disjoint(gold):
    tr1, dv1 = split_dev(gold, dev_frac=0.25)
    tr2, dv2 = split_dev(gold, dev_frac=0.25)
    assert tr1.equals(tr2) and dv1.equals(dv2)
    assert len(tr1) + len(dv1) == len(gold)
    # conversation-level: no conv_id on both sides
    assert not (set(tr1["conv_id"]) & set(dv1["conv_id"]))
    # frac is approximate at the CONVERSATION level (token share can be
    # lumpy — the fixtures plant hot conversations on purpose)
    n_conv = gold["conv_id"].nunique()
    assert 0.05 <= dv1["conv_id"].nunique() / n_conv <= 0.6


def test_autotrain_selects_best_dev_score(gold):
    model, results = autotrain(gold, train_grid=TINY_GRID,
                               pos_modes=(None, "voting"),
                               ner_modes=(None,))
    # 2 trainings x 2 pos modes = 4 scored configs
    assert len(results) == 4
    best = model.meta["autotrain"]["best"]
    assert best["score"] == max(r["score"] for r in results)
    assert model.meta["pos_mode"] == best["pos_mode"]
    assert model.meta["ner_mode"] == best["ner_mode"]
    # the returned model reproduces the recorded dev metrics exactly
    # (training is deterministic given (epochs, seed))
    _tr, dv = split_dev(gold, dev_frac=0.2)
    m = eval_token_accuracy(model, dv)
    assert m == pytest.approx(best["dev"])
    assert _score(m) == pytest.approx(best["score"])
    # the fixtures are learnable: the winner must be near-gold on dev
    assert best["dev"]["pos"] >= 0.97 and best["dev"]["ne"] >= 0.97


def test_autotrain_spark_sweep_matches_sequential(spark, gold):
    _m1, r1 = autotrain(gold, train_grid=TINY_GRID, pos_modes=(None,),
                        ner_modes=(None,))
    _m2, r2 = autotrain(gold, train_grid=TINY_GRID, pos_modes=(None,),
                        ner_modes=(None,), spark=spark)
    strip = lambda rs: [(r["epochs"], r["seed"], round(r["score"], 12))
                        for r in rs]
    assert strip(r1) == strip(r2)


def test_voting_mode_accuracy_and_path_parity(spark, fixture_dir, model):
    """A8 level-3: voting ≥ 0.98 POS accuracy on fixtures, and the
    cascade's level-2 feature ids (features_fast.pos2_feature_ids)
    equal the features.py reference ids token-for-token."""
    from morra_spark.autotrain import _sequence_layout
    from morra_spark.operators import features as FT
    from morra_spark.operators import features_fast as FF

    gold = spark.read.parquet(f"{fixture_dir}/gold_tokens").toPandas()
    model.meta["ner_mode"] = None
    model.meta["pos_mode"] = "voting"
    try:
        m = eval_token_accuracy(model, gold)
        assert m["pos"] >= 0.98, m
    finally:
        model.meta.pop("pos_mode", None)
        model.meta.pop("ner_mode", None)

    sub = gold[gold["conv_id"].isin(sorted(set(gold["conv_id"]))[:10])]
    g2, seq_ids, starts = _sequence_layout(sub)
    forms_list = g2["form"].astype(str).tolist()
    n = len(g2)
    bf = FF.BatchFeatures(forms_list, seq_ids)
    pred_f = model.pos.decode_batch(model.pos.static_scores(
        FF.pos_feature_ids(model.pos, bf, model.dict_tag), n), starts)
    pred_b = model.pos_rev.decode_batch(model.pos_rev.static_scores(
        FF.pos_feature_ids(model.pos_rev, bf, model.dict_tag), n), starts,
        reverse=True)
    classes = np.array(model.pos.classes, dtype=object)
    forms = pd.Series(forms_list, dtype=object)
    ref = FT.features_to_ids(model.pos2, FT.pos2_static_features(
        FT.shared_static(forms, seq_ids),
        pd.Series(classes[pred_f], dtype=object),
        pd.Series(classes[pred_b], dtype=object), seq_ids))
    fast = FF.pos2_feature_ids(model.pos2, bf, pred_f, pred_b,
                               model.pos.classes)
    assert set(ref) == set(fast)
    for name in ref:
        assert (ref[name] == fast[name]).all(), name


def test_voting_majority_semantics():
    """The vote is 2-1 majority with level-2 as the 1-1-1 tiebreak:
    np.where(fwd == bwd, fwd, l2) — check all agreement shapes."""
    fwd = np.array([0, 1, 2, 3])
    bwd = np.array([0, 1, 9, 8])
    l2 = np.array([5, 1, 2, 7])
    out = np.where(fwd == bwd, fwd, l2)
    # fwd==bwd beats l2; fwd!=bwd falls to l2 (which either sides with
    # one voter -> 2-1, or is a third opinion -> strongest-model tiebreak)
    assert out.tolist() == [0, 1, 2, 7]
