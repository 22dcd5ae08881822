"""Workload inputs: synthetic transcripts and their gold triples.

The rows are those ``morra_spark.fixtures.gen_full`` emits: its
per-conversation generator is called here directly, in this process.
Each conversation is seeded by (seed, index) alone, so the rows are the
same as gen_full's on any parallelism, and generating them costs about
a second instead of the Spark jobs gen_full would add to every run's
JVM. The same ``--seed`` gives the same transcripts and gold. The gold
is known by construction (the grammar records each turn's canonical
triples), so a run is correct only when the written triple multiset
equals it.

The incremental workload's second corpus version (v2) is v1 plus
``N_CHANGED`` appended conversations plus ``N_CHANGED`` v1
conversations that each gain a tail of turns. A tail is a whole extra
generated conversation renamed onto the target and shifted past its last
``turn_idx``; generated conversations always open with a content turn,
so every tool turn in a tail aligns inside the tail and the shifted gold
stays exact.
"""

from __future__ import annotations

import collections
import os
import random
import zlib
from dataclasses import dataclass

N_CHANGED = 8
TRANSCRIPT_FILES = 64  # >= 64 files: the scan must not idle cores
GOLD_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]


@dataclass
class Inputs:
    """One workload's corpus versions on disk, and the gold and content
    turns of the corpus the timed job ends on."""

    v1: str
    v2: str | None
    gold: collections.Counter
    turns: int
    content: "pandas.DataFrame"  # noqa: F821  (conv_id, turn_idx, text)


def generate(root: str, *, seed: int, n_convs: int, hot_frac: float,
             incremental: bool) -> Inputs:
    """Write v1 (and for ``incremental`` v2) under ``root`` as
    ``TRANSCRIPT_FILES`` parquet files each."""
    from morra_spark.fixtures import _gen_conversation
    from morra_spark.grammar import Lexicon

    lex = Lexicon(seed=seed)

    def conv(i: int) -> list[dict]:
        # the arguments gen_full passes: gap_frac=0.02, avg_len=12
        return list(_gen_conversation(lex, i, seed, hot_frac, 0.02, 12))

    rows = [r for i in range(n_convs) for r in conv(i)]
    _write_corpus(rows, f"{root}/v1")
    v2 = None
    if incremental:
        rows += [r for i in range(n_convs, n_convs + N_CHANGED)
                 for r in conv(i)]
        last = collections.defaultdict(int)
        for r in rows:
            last[r["conv_id"]] = max(last[r["conv_id"]], r["turn_idx"])
        targets = random.Random(seed).sample(range(n_convs), N_CHANGED)
        for j, t in enumerate(targets):
            target = f"c{t:08d}"
            shift = last[target] + 1
            rows += [{**r, "conv_id": target, "turn_idx": r["turn_idx"] + shift}
                     for r in conv(n_convs + N_CHANGED + j)]
        v2 = f"{root}/v2"
        _write_corpus(rows, v2)

    import pandas as pd

    gold = collections.Counter(
        (r["conv_id"], r["turn_idx"], t["subj"], t["pred"], t["obj"])
        for r in rows for t in r["g_triples"])
    content = pd.DataFrame(
        [(r["conv_id"], r["turn_idx"], r["text"]) for r in _file_order(rows)
         if r["role"] != "tool"], columns=["conv_id", "turn_idx", "text"])
    return Inputs(v1=f"{root}/v1", v2=v2, gold=gold, turns=len(rows),
                  content=content)


def _file_of(r: dict) -> int:
    key = f"{r['conv_id']}\x1f{r['turn_idx']}".encode()
    return zlib.crc32(key) % TRANSCRIPT_FILES


def _file_order(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=_file_of)  # stable: row order within a file


def _write_corpus(rows: list[dict], path: str) -> None:
    """Hash-distribute turns over the files, as a repartition by
    (conv_id, turn_idx) would, in the transcript schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()),
                        ("ts", pa.timestamp("us", tz="UTC"))])
    files: list[list[dict]] = [[] for _ in range(TRANSCRIPT_FILES)]
    for r in rows:
        files[_file_of(r)].append(r)
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(files):
        table = pa.Table.from_pylist(
            [{c: r[c] for c in schema.names} for r in part], schema=schema)
        pq.write_table(table, f"{path}/part-{k:05d}.parquet")


def read_triples(path: str) -> collections.Counter:
    """Multiset of (conv_id, turn_idx, subj, pred, obj) in a hive-
    partitioned triple sink."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=GOLD_COLS)
    return collections.Counter(zip(*(t.column(c).to_pylist()
                                     for c in GOLD_COLS)))
