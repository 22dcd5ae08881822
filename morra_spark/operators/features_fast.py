"""Arrow-kernel feature extraction — the inference fast path.

Drop-in replacement for the pandas-object pipeline in ``features.py``:
identical feature VALUES and id mappings (asserted by the parity test
``tests/test_features_fast.py``), computed by pyarrow C kernels instead
of per-token Python:

* string normalization / suffixes / shape → ``pyarrow.compute`` utf8 +
  RE2 kernels (cache-friendly, no Python objects materialized);
* vocab lookups (``series.map(vocab)``) → ``pc.index_in`` against a
  per-family value array, a C hash join;
* dict features (corpus-dict tag guess, gazetteer) → ``index_in`` on the
  key array + ``take`` of precomputed family-row ids;
* neighbor features (pform/nform/pupos/…)→ integer shifts of the id
  arrays with sentinel rows — never materializing shifted string arrays.

Training keeps the readable ``features.py`` path (tiny data, and vocab
construction needs the strings); inference only needs id arrays, which
is all the perceptron consumes. Less memory traffic per token also
scales better across many executors per host — string-object churn was
the dominant DRAM load of the hot stage.

Caches (value arrays, key arrays, row-id tables) live on the model
objects, built lazily once per executor after broadcast deserialization.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from morra_spark.operators.features import BOS, EOS

# Unicode-aware RE2 classes, matching the Python reference path's
# behavior (Python \d == \p{Nd}; Python \w ~= [\p{L}\p{N}_]): RE2's
# bare \d/\w are ASCII-only, which made the two inference paths diverge
# on non-ASCII text (ADVICE r1: 'ёлка' shaped as punct in the fast path).
# Even with Unicode classes, RE2/utf8proc ship NEWER Unicode tables than
# CPython's unicodedata, so codepoints assigned between the two versions
# (found by hypothesis: U+1E030 is a letter to RE2, unassigned to
# CPython 3.11) still classified differently. Bit-parity is therefore
# guaranteed by construction: Arrow kernels handle ASCII tokens (where
# the engines provably agree), and the rare non-ASCII tokens are
# re-classified by the SAME Python regexes the reference path uses
# (`_py_normalize_one` / `_py_shape_one`, cf. features.normalize_forms /
# features._shape).
_DIGITS = r"\p{Nd}+"

import re as _re

_PY_DIGIT_RUN = _re.compile(r"\d+")
_PY_D = _re.compile(r"\d+")
_PY_P = _re.compile(r"[^\w\s]+")
_PY_U = _re.compile(r"[A-Z0-9']+")
_PY_CAP = _re.compile(r"[A-Z]")


def _py_normalize_one(form: str) -> str:
    """features.normalize_forms for one token (lower + digit-run fold)."""
    return _PY_DIGIT_RUN.sub("0", form.lower())


def _py_shape_one(form: str) -> str:
    """features._shape for one token — identical precedence."""
    if _PY_D.fullmatch(form):
        return "digit"
    if _PY_P.fullmatch(form):
        return "punct"
    if _PY_U.fullmatch(form):
        return "upper"
    if _PY_CAP.match(form):
        return "cap"
    return "lower"


def _family_values(fam) -> pa.Array:
    """Value array ordered by row id: values[id] = feature string."""
    cache = getattr(fam, "_values_pa", None)
    if cache is None:
        vals = [None] * len(fam.vocab)
        for feat, fid in fam.vocab.items():
            vals[fid] = feat
        cache = pa.array(vals, pa.string())
        fam._values_pa = cache
    return cache


def _ids_for(fam, arr: pa.Array) -> np.ndarray:
    """index_in against the family vocab; null (OOV) → last row."""
    idx = pc.index_in(arr, value_set=_family_values(fam))
    return idx.fill_null(len(fam.vocab)).to_numpy(zero_copy_only=False).astype(np.int64)


def _dict_rows(fam, mapping: dict[str, str], default: str):
    """(key array, row-id array, default row) for a dict feature: row id
    of mapping[key] in ``fam``'s vocab, precomputed once."""
    cache = getattr(fam, "_dict_rows_pa", None)
    if cache is None:
        keys = sorted(mapping)
        rows = np.array([fam.id_of(mapping[k]) for k in keys], np.int64)
        cache = (pa.array(keys, pa.string()), rows, fam.id_of(default))
        fam._dict_rows_pa = cache
    return cache


def _dict_feature_ids(fam, mapping: dict[str, str], default: str,
                      fn: pa.Array) -> np.ndarray:
    keys, rows, default_row = _dict_rows(fam, mapping, default)
    idx = pc.index_in(fn, value_set=keys)
    out = np.full(len(fn), default_row, np.int64)
    valid = idx.is_valid().to_numpy(zero_copy_only=False)
    if valid.any():
        pos = idx.fill_null(0).to_numpy(zero_copy_only=False)
        out[valid] = rows[pos[valid]]
    return out


def _shift_ids(ids: np.ndarray, seq_ids: np.ndarray, k: int,
               sentinel_row: int) -> np.ndarray:
    """Previous/next token's id within the sequence, else sentinel row."""
    n = len(ids)
    out = np.full(n, sentinel_row, np.int64)
    if n == 0:
        return out
    if k > 0:
        same = np.zeros(n, bool)
        same[k:] = seq_ids[k:] == seq_ids[:-k]
        out[same] = ids[np.nonzero(same)[0] - k]
    else:
        k = -k
        same = np.zeros(n, bool)
        same[:-k] = seq_ids[:-k] == seq_ids[k:]
        out[same] = ids[np.nonzero(same)[0] + k]
    return out


def _shape_ids(fam, bf: "BatchFeatures") -> np.ndarray:
    """shape ∈ {digit,punct,upper,cap,lower} — same precedence as
    features._shape, via RE2 kernels; non-ASCII tokens re-classified by
    the Python reference regexes (Unicode-table parity, module header)."""
    forms = bf.forms
    is_digit = pc.match_substring_regex(forms, r"^\p{Nd}+$")
    is_punct = pc.match_substring_regex(forms, r"^[^\p{L}\p{N}_\s]+$")
    all_upper = pc.match_substring_regex(forms, r"^[A-Z0-9']+$")
    cap_first = pc.match_substring_regex(forms, r"^[A-Z]")
    lab = np.select(
        [is_digit.to_numpy(zero_copy_only=False),
         is_punct.to_numpy(zero_copy_only=False),
         all_upper.to_numpy(zero_copy_only=False),
         cap_first.to_numpy(zero_copy_only=False)],
        [fam.id_of("digit"), fam.id_of("punct"), fam.id_of("upper"),
         fam.id_of("cap")],
        default=fam.id_of("lower"))
    if bf.nonascii is not None:
        for i in np.nonzero(bf.nonascii)[0]:
            lab[i] = fam.id_of(_py_shape_one(bf.forms_list[i]))
    return lab.astype(np.int64)


def _first_ids(fam, seq_ids: np.ndarray) -> np.ndarray:
    n = len(seq_ids)
    first = np.zeros(n, bool)
    if n:
        first[0] = True
        first[1:] = seq_ids[1:] != seq_ids[:-1]
    one, zero = fam.id_of("1"), fam.id_of("0")
    return np.where(first, one, zero).astype(np.int64)


class BatchFeatures:
    """Shared per-batch Arrow computations (normalized forms, suffixes,
    shape regexes) — computed once, consumed by POS, NER, and FEATS id
    builders."""

    def __init__(self, forms_list: list, seq_ids: np.ndarray):
        self.seq_ids = seq_ids
        self.forms_list = forms_list
        self.forms = pa.array(forms_list, pa.string())
        self.fn = pc.replace_substring_regex(
            pc.utf8_lower(self.forms), _DIGITS, "0")
        # non-ASCII tokens: re-normalize with the Python reference path —
        # utf8proc/RE2 vs CPython Unicode-table skew otherwise breaks the
        # two paths' bit-parity (see module header). ASCII tokens (the
        # overwhelming majority) never leave the Arrow kernels.
        ascii_m = pc.match_substring_regex(self.forms, r"^[\x00-\x7f]*$") \
            .to_numpy(zero_copy_only=False)
        self.lower = pc.utf8_lower(self.forms)
        if ascii_m.all():
            self.nonascii = None
        else:
            self.nonascii = ~ascii_m
            na_idx = np.nonzero(self.nonascii)[0]
            mask = pa.array(self.nonascii)
            self.fn = pc.replace_with_mask(
                self.fn, mask,
                pa.array([_py_normalize_one(forms_list[i]) for i in na_idx],
                         pa.string()))
            # str.lower parity for the lemmatizer's dict keys too
            self.lower = pc.replace_with_mask(
                self.lower, mask,
                pa.array([forms_list[i].lower() for i in na_idx],
                         pa.string()))
        # negative start in utf8_slice_codeunits clamps like Python s[-k:]
        self.suf3 = pc.utf8_slice_codeunits(self.fn, -3, 2**31 - 1)
        self.suf4 = pc.utf8_slice_codeunits(self.fn, -4, 2**31 - 1)
        self.pre1 = pc.utf8_slice_codeunits(self.fn, 0, 1)
        self.n = len(forms_list)


def pos_feature_ids(model, bf: BatchFeatures,
                    dict_tag: dict[str, str]) -> dict[str, np.ndarray]:
    fams = model.families
    form_ids = _ids_for(fams["form"], bf.fn)
    ids = {
        "form": form_ids,
        "suf3": _ids_for(fams["suf3"], bf.suf3),
        "suf4": _ids_for(fams["suf4"], bf.suf4),
        "pre1": _ids_for(fams["pre1"], bf.pre1),
        "shape": _shape_ids(fams["shape"], bf),
        "first": _first_ids(fams["first"], bf.seq_ids),
        "pform": _shift_ids(_ids_for(fams["pform"], bf.fn), bf.seq_ids, 1,
                            fams["pform"].id_of(BOS)),
        "nform": _shift_ids(_ids_for(fams["nform"], bf.fn), bf.seq_ids, -1,
                            fams["nform"].id_of(EOS)),
        "dguess": _dict_feature_ids(fams["dguess"], dict_tag, "NA", bf.fn),
    }
    return ids


def pos2_feature_ids(model, bf: BatchFeatures, pred_fwd: np.ndarray,
                     pred_bwd: np.ndarray,
                     pos_classes: list[str]) -> dict[str, np.ndarray]:
    """Id arrays for the A8 level-2 POS model (families per
    features.pos2_static_features: form suf3 shape first + the level-1
    forward and backward predicted tags at i-1/i/i+1)."""
    fams = model.families
    ids = {
        "form": _ids_for(fams["form"], bf.fn),
        "suf3": _ids_for(fams["suf3"], bf.suf3),
        "shape": _shape_ids(fams["shape"], bf),
        "first": _first_ids(fams["first"], bf.seq_ids),
    }
    for pred, names in ((pred_fwd, ("f1", "f1p", "f1n")),
                        (pred_bwd, ("b1", "b1p", "b1n"))):
        tab = class_row_tables(model, names, pos_classes)
        ids.update(tag_context_ids(tab, pred, bf.seq_ids, names))
    return ids


def ner_feature_ids(model, bf: BatchFeatures, upos_row_ids: dict,
                    gazetteer: dict[str, str]) -> dict[str, np.ndarray]:
    """``upos_row_ids``: per-family ('upos','pupos','nupos') id arrays of
    the PREDICTED tags, prebuilt by the caller from class indices (no
    strings round-trip)."""
    fams = model.families
    gaz_ids = _dict_feature_ids(fams["gaz"], gazetteer, "O", bf.fn)
    # pgaz/ngaz shift the gaz *strings*; equivalent: shift gaz ids mapped
    # into the pgaz/ngaz vocab via the value strings — vocabs for
    # gaz/pgaz/ngaz hold the same value set in training, but ids differ.
    # Cheap exact approach: compute pgaz/ngaz ids by index_in on their own
    # vocab then shift.
    pgaz_base = _dict_feature_ids(fams["pgaz"], gazetteer, "O", bf.fn)
    ngaz_base = _dict_feature_ids(fams["ngaz"], gazetteer, "O", bf.fn)
    ids = {
        "form": _ids_for(fams["form"], bf.fn),
        "suf3": _ids_for(fams["suf3"], bf.suf3),
        "shape": _shape_ids(fams["shape"], bf),
        "first": _first_ids(fams["first"], bf.seq_ids),
        "pform": _shift_ids(_ids_for(fams["pform"], bf.fn), bf.seq_ids, 1,
                            fams["pform"].id_of(BOS)),
        "nform": _shift_ids(_ids_for(fams["nform"], bf.fn), bf.seq_ids, -1,
                            fams["nform"].id_of(EOS)),
        "upos": upos_row_ids["upos"],
        "pupos": upos_row_ids["pupos"],
        "nupos": upos_row_ids["nupos"],
        "gaz": gaz_ids,
        "pgaz": _shift_ids(pgaz_base, bf.seq_ids, 1, fams["pgaz"].id_of(BOS)),
        "ngaz": _shift_ids(ngaz_base, bf.seq_ids, -1, fams["ngaz"].id_of(EOS)),
    }
    return ids


def feats_feature_ids(model, bf: BatchFeatures, pred_pos: np.ndarray,
                      pos_classes: list[str]) -> dict[str, np.ndarray]:
    """Id arrays for one FEATS-category model (families per
    features.FEATS-static: form suf3 shape first pform nform +
    upos/pupos/nupos from the predicted POS)."""
    fams = model.families
    tab = class_row_tables(model, ("upos", "pupos", "nupos"), pos_classes)
    ids = tag_context_ids(tab, pred_pos, bf.seq_ids, ("upos", "pupos", "nupos"))
    ids.update({
        "form": _ids_for(fams["form"], bf.fn),
        "suf3": _ids_for(fams["suf3"], bf.suf3),
        "shape": _shape_ids(fams["shape"], bf),
        "first": _first_ids(fams["first"], bf.seq_ids),
        "pform": _shift_ids(_ids_for(fams["pform"], bf.fn), bf.seq_ids, 1,
                            fams["pform"].id_of(BOS)),
        "nform": _shift_ids(_ids_for(fams["nform"], bf.fn), bf.seq_ids, -1,
                            fams["nform"].id_of(EOS)),
    })
    return ids


def class_row_tables(model, fam_names: tuple[str, str, str],
                     classes: list[str]):
    """For ('upos','pupos','nupos')-style tag-context families: per family
    a (n_classes,) row-id table + sentinel rows, so predicted class ids
    map straight to family rows (no strings)."""
    cache = getattr(model, "_class_row_tables", None)
    if cache is None:
        cache = model._class_row_tables = {}
    key = fam_names
    if key in cache:
        return cache[key]
    cur_f, prev_f, next_f = fam_names
    fams = model.families
    tab = {}
    for name, sent in ((cur_f, None), (prev_f, BOS), (next_f, EOS)):
        fam = fams[name]
        rows = np.array([fam.id_of(c) for c in classes], np.int64)
        tab[name] = (rows, fam.id_of(sent) if sent else -1)
    cache[key] = tab
    return tab


def tag_context_ids(tab: dict, pred_class_ids: np.ndarray,
                    seq_ids: np.ndarray, names: tuple[str, str, str]) -> dict:
    cur_f, prev_f, next_f = names
    rows_cur, _ = tab[cur_f]
    rows_prev, bos_row = tab[prev_f]
    rows_next, eos_row = tab[next_f]
    cur = rows_cur[pred_class_ids]
    prev = _shift_ids(rows_prev[pred_class_ids], seq_ids, 1, bos_row)
    nxt = _shift_ids(rows_next[pred_class_ids], seq_ids, -1, eos_row)
    return {cur_f: cur, prev_f: prev, next_f: nxt}


def lemma_lookup_arrays(rules):
    """Arrow key/value arrays for the two lemma dicts, cached on rules."""
    cache = getattr(rules, "_arrow_cache", None)
    if cache is None:
        ful_keys = sorted(rules.form_upos_lemma)
        ful_vals = [rules.form_upos_lemma[k] for k in ful_keys]
        fl_keys = sorted(rules.form_lemma)
        fl_vals = [rules.form_lemma[k] for k in fl_keys]
        cache = (pa.array(ful_keys, pa.string()), pa.array(ful_vals, pa.string()),
                 pa.array(fl_keys, pa.string()), pa.array(fl_vals, pa.string()))
        rules._arrow_cache = cache
    return cache


def lemmatize_fast(forms_lower: pa.Array, upos_strings: pa.Array,
                   rules) -> np.ndarray:
    """Arrow version of operators.lemmatizer.lemmatize: dict joins via
    index_in/take; the (small) OOV remainder falls back to the pandas
    suffix-rule path."""
    import pandas as pd

    from morra_spark.operators.lemmatizer import SEP, lemmatize

    ful_k, ful_v, fl_k, fl_v = lemma_lookup_arrays(rules)
    key = pc.binary_join_element_wise(forms_lower, upos_strings, SEP)
    idx = pc.index_in(key, value_set=ful_k)
    lemma = pc.take(ful_v, idx)  # null where miss
    miss = idx.is_null()
    if pc.any(miss).as_py():
        idx2 = pc.index_in(forms_lower, value_set=fl_k)
        lemma2 = pc.take(fl_v, idx2)
        lemma = pc.if_else(miss, lemma2, lemma)
        miss = pc.is_null(lemma)
        if pc.any(miss).as_py():
            # suffix-rule fallback on the miss slice only
            miss_np = miss.to_numpy(zero_copy_only=False)
            sub_forms = pd.Series(
                pc.filter(forms_lower, miss).to_pandas(), dtype=object)
            sub_upos = pd.Series(
                pc.filter(upos_strings, miss).to_pandas(), dtype=object)
            sub = lemmatize(sub_forms.reset_index(drop=True),
                            sub_upos.reset_index(drop=True), rules)
            out = lemma.to_numpy(zero_copy_only=False).astype(object)
            out[miss_np] = sub.to_numpy(dtype=object)
            return out
    return lemma.to_numpy(zero_copy_only=False).astype(object)
