"""Anaphora resolution (coref-lite) — the nearest-antecedent rule.

Real transcript corpora assert a large share of their facts through
pronouns ("it failed", "they merged the table"): a triple extractor
that drops pronoun-subject assertions loses recall, and one that keeps
the raw pronoun surface fragments the graph (every conversation mints
its own "it" node). The industry-standard cheap fix is the
nearest-antecedent heuristic: resolve each anaphoric mention to the
most recent preceding NON-anaphoric entity mention in the same
conversation (the rule behind "last mentioned entity wins" in rule-based
coref baselines, and the same alignment contract this pipeline already
applies to tool turns — ``plans/pipeline.align_tool_turns``).

Two entry points:

* ``resolve_anaphora`` — generic mention-stream form: given rows with a
  partition (conversation/document), a total order, an entity surface,
  and an is-anaphor flag, fill each anaphor's entity with the last
  preceding non-anaphor entity (NULL when no antecedent exists).
* ``resolve_triple_anaphora`` — triple-stream form wired into the KG
  pipeline (opt-in, like fuzzy canonicalization): rewrites
  pronoun-SUBJECT triples to the nearest preceding content triple's
  subject in the same conversation and drops unresolvable ones.
  Objects are deliberately left alone: subject pronouns dominate in
  transcripts and object rewrites would need gender/number agreement
  this heuristic cannot provide — conservative beats wrong in a KG.

100 TB shape: ONE window over (partition, order) per call — a single
hash exchange on the conversation key; no self-join, no per-row Python.
Hot conversations cost one sort of their own rows (the same skew
profile as turn reassembly, which the salted sink already absorbs
downstream). The antecedent struct carries only (order keys, entity,
ne) — bodies never enter the window buffer.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def resolve_anaphora(mentions: DataFrame, *, part_col: str = "conv_id",
                     order_cols: Sequence[str] = ("turn_idx", "pos"),
                     entity_col: str = "entity",
                     anaphor_col: str = "is_anaphor",
                     out_col: str = "resolved",
                     max_gap: int | None = None) -> DataFrame:
    """Fill each anaphoric mention with its nearest antecedent.

    Adds ``out_col``: for non-anaphor rows, the row's own
    ``entity_col``; for anaphor rows, the ``entity_col`` of the LAST
    preceding row in the partition (ordered by ``order_cols``) whose
    ``anaphor_col`` is false — or NULL when no antecedent exists.
    ``max_gap`` (optional) bounds how far back, in units of the FIRST
    order column (turns), an antecedent may sit: a pronoun 50 turns
    after the last entity mention almost certainly refers to something
    outside the window, and emitting that link would be a precision
    hole. One window, one exchange on ``part_col``.
    """
    w = (Window.partitionBy(part_col)
         .orderBy(*[F.col(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, -1))
    # the struct carries the first order col so max_gap can compare
    # distances without a second window pass
    ante = F.last(
        F.when(~F.col(anaphor_col),
               F.struct(F.col(order_cols[0]).alias("at"),
                        F.col(entity_col).alias("entity"))),
        ignorenulls=True).over(w)
    resolved = F.when(~F.col(anaphor_col), F.col(entity_col))
    if max_gap is None:
        resolved = resolved.otherwise(ante["entity"])
    else:
        near = (F.col(order_cols[0]) - ante["at"]) <= F.lit(max_gap)
        resolved = resolved.otherwise(F.when(near, ante["entity"]))
    return mentions.withColumn(out_col, resolved)


def resolve_triple_anaphora(triples: DataFrame,
                            pronouns: Sequence[str] = ("it", "they", "he",
                                                       "she", "this",
                                                       "that"),
                            max_gap: int | None = None) -> DataFrame:
    """Rewrite pronoun-subject triples to the nearest preceding
    non-pronoun subject in the same conversation.

    Deterministic antecedent rule (engine/partitioning-invariant): the
    antecedent of a pronoun at turn T is the subject of the last
    non-pronoun row from a STRICTLY EARLIER turn under the total order
    (turn_idx, subj, pred, obj) — i.e. the lexicographically largest
    (subj, pred, obj) triple of the latest earlier turn that asserted
    anything non-pronominal (same-turn content never resolves a
    pronoun: the pronoun was spoken before its own turn's later
    clauses were parsed). The window sorts pronoun rows BEFORE their
    turn's content rows (is-pronoun descending inside the turn), so a
    pronoun's preceding frame physically cannot contain same-turn
    content and the strictly-earlier rule needs no post-filter — a
    same-turn-only guard would otherwise DROP a resolvable pronoun
    whose turn also carried content sorting before it.
    Unresolvable pronoun triples (no earlier content turn, or
    antecedent farther than ``max_gap`` turns) are DROPPED — a
    conservative recall/precision trade documented in the module
    docstring. Non-pronoun triples pass through bit-identical.

    Schema contract: input needs (conv_id, turn_idx, subj, pred, obj,
    subj_ne, obj_ne); any extra columns (part_key, ...) are preserved.
    """
    # null-safe: a null-subj row is NOT a pronoun (passes through
    # unchanged) and NEVER serves as an antecedent — mirrored in the
    # streaming twin (code-review finding: pandas NaN handling diverged)
    is_pron = F.coalesce(
        F.lower(F.col("subj")).isin([p.lower() for p in pronouns]),
        F.lit(False))
    # pronoun rows sort FIRST inside their turn (desc on the boolean):
    # every preceding non-pronoun row is then from an earlier turn.
    # subj_ne is part of the order so duplicate (subj, pred, obj)
    # content rows with differing NE tags still order totally — the
    # inherited tag is the largest, on any partitioning or engine
    w = (Window.partitionBy("conv_id")
         .orderBy("turn_idx", is_pron.desc(), "subj", "pred", "obj",
                  "subj_ne")
         .rowsBetween(Window.unboundedPreceding, -1))
    ante = F.last(
        F.when(~is_pron & F.col("subj").isNotNull(),
               F.struct(F.col("turn_idx").alias("at"),
                        F.col("subj").alias("subj"),
                        F.col("subj_ne").alias("subj_ne"))),
        ignorenulls=True).over(w)
    t = (triples.withColumn("_pron", is_pron)
         .withColumn("_ante", ante))
    ok = F.col("_ante").isNotNull()
    if max_gap is not None:
        ok = ok & ((F.col("turn_idx") - F.col("_ante.at")) <= max_gap)
    resolved = (t.filter(~F.col("_pron") | ok)
                .withColumn("subj", F.when(F.col("_pron"),
                                           F.col("_ante.subj"))
                            .otherwise(F.col("subj")))
                .withColumn("subj_ne", F.when(F.col("_pron"),
                                              F.col("_ante.subj_ne"))
                            .otherwise(F.col("subj_ne"))))
    return resolved.drop("_pron", "_ante")
