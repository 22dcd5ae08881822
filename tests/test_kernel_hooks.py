"""The benchmark's traced run wraps named kernel functions
(``perfbench.tracing``) and fails if a kernel layer is never entered.
Run the same profile on fixture turns here, so a kernel refactor that
renames or bypasses one of those hooks fails in pytest, not only in a
traced benchmark run."""

from __future__ import annotations

import pandas as pd


def test_kernel_profile_enters_every_layer(fixture_dir, model_path):
    from perfbench import tracing

    turns = pd.read_parquet(f"{fixture_dir}/transcripts",
                            columns=["conv_id", "turn_idx", "role", "text"])
    content = (turns[turns["role"] != "tool"]
               .sort_values(["conv_id", "turn_idx"])
               .head(300)[["conv_id", "turn_idx", "text"]]
               .reset_index(drop=True))
    assert len(content) >= 200

    total_s, layers = tracing.kernel_profile(content, model_path,
                                             n_tasks=2, batch_rows=64)
    assert total_s > 0
    assert set(tracing.KERNEL_LAYERS) <= set(layers)
