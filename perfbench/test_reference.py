"""Pins the benchmark's vectorized reference to the engine's row-wise oracle.

    python3 -m pytest perfbench/test_reference.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from image_report_spark.fixtures import apply_oracle  # noqa: E402
from perfbench.gen import ROW_COLUMNS, ChangeStream, reference_table, table_mismatches  # noqa: E402


def small_stream(seed: int, sorted_keys: bool) -> tuple[list[pd.DataFrame], ChangeStream]:
    stream = ChangeStream(seed, turns=5, sorted_keys=sorted_keys)
    batches = [stream.batch(300)[0]]
    for i in range(6):
        if sorted_keys:
            batches.append(stream.batch(120, update=1.0 if i % 3 == 2 else 0.0)[0])
        else:
            batches.append(
                stream.batch(120, update=0.5, delete=0.1, late=0.3, redeliver=0.1)[0]
            )
    return batches, stream


@pytest.mark.parametrize("sorted_keys", [False, True])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_reference_matches_apply_oracle(seed, sorted_keys):
    batches, stream = small_stream(seed, sorted_keys)
    want = apply_oracle(pd.concat(batches, ignore_index=True))
    got = reference_table(batches)
    assert len(got) == len(want) == stream.live_rows()
    assert table_mismatches(want[ROW_COLUMNS], got) == 0


def test_stream_exercises_every_rule():
    """The small stream has what the reference must get right: re-sent
    LSNs, deletes, and late updates that lose to their key's last write."""
    batches, _ = small_stream(0, sorted_keys=False)
    ev = pd.concat(batches, ignore_index=True)
    assert ev["lsn"].duplicated().any()
    assert (ev["op"] == "D").any()
    ev = ev[~ev["lsn"].duplicated()]
    last = ev.sort_values("lsn").groupby(["conv_id", "turn_idx"]).tail(1)
    win = ev.sort_values(["ts", "lsn"]).groupby(["conv_id", "turn_idx"]).tail(1)
    assert set(last["lsn"]) != set(win["lsn"])


def test_same_seed_same_stream():
    a, _ = small_stream(7, sorted_keys=False)
    b, _ = small_stream(7, sorted_keys=False)
    assert all(x.equals(y) for x, y in zip(a, b))
