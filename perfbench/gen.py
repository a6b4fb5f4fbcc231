"""Seeded change-stream generator and last-writer-wins reference.

The engine sees only the parquet batch files written here. Everything is
derived from the seed: the same seed gives byte-identical batches, whatever
the wall clock does.

Keys are integer ids ``k`` mapped to ``(conv_id, turn_idx) = (k // turns,
k % turns)``. With ``sorted_keys`` the conversation number is the sequence
number itself, so every batch of inserts carries a fresh key range above the
table's (the auto-increment CDC pattern). Otherwise the sequence number is
scrambled by a bijection mod a prime, so new keys interleave with the whole
existing key range.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: 2026-01-01T00:00:00Z in microseconds
BASE_EPOCH_US = 1_767_225_600_000_000
#: commit-clock step between consecutive events
STEP_US = 10_000
#: the largest prime below 10**8: the conv number scramble is a bijection on
#: [0, PRIME), and eight digits keep ``conv_id`` strings fixed-width
PRIME = 99_999_989

SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
ROW_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class ChangeStream:
    """One workload's change stream, generated batch by batch.

    Updates and deletes target keys that are live at generation time, and a
    key is never targeted by both in one batch, so ``live`` is exactly the
    set of keys the table must hold: deletes carry the newest ``ts`` their
    key has seen, and nothing targets a deleted key again.
    """

    def __init__(self, seed: int, turns: int = 20, sorted_keys: bool = False):
        self.rng = np.random.default_rng(seed)
        self.turns = turns
        if sorted_keys:
            self._mult, self._off = 1, 0
        else:
            self._mult = int(self.rng.integers(2, PRIME))
            self._off = int(self.rng.integers(0, PRIME))
        self.sorted_keys = sorted_keys
        self.live = np.zeros(0, dtype=bool)
        self.next_lsn = 0
        self.clock_us = 0
        self._prev: pd.DataFrame | None = None

    def live_rows(self) -> int:
        return int(self.live.sum())

    def live_convs(self) -> int:
        return int(np.unique(np.flatnonzero(self.live) // self.turns).size)

    def batch(
        self,
        n: int,
        update: float = 0.0,
        delete: float = 0.0,
        late: float = 0.0,
        redeliver: float = 0.0,
    ) -> tuple[pd.DataFrame, int]:
        """The next batch of ``n`` fresh events, plus ``round(redeliver *
        n)`` events of the previous batch re-sent with their original LSNs
        (an at-least-once producer) at its head. Returns the batch and the
        number of re-sent events."""
        rng = self.rng
        n_upd = round(n * update)
        n_del = round(n * delete)
        n_ins = n - n_upd - n_del
        live_ids = np.flatnonzero(self.live)
        if n_upd + n_del > live_ids.size:
            raise ValueError("batch targets more keys than are live")
        targets = rng.choice(live_ids, size=n_upd + n_del, replace=False)
        ins = np.arange(self.live.size, self.live.size + n_ins)
        self.live = np.concatenate([self.live, np.ones(n_ins, dtype=bool)])
        self.live[targets[n_upd:]] = False

        keys = np.concatenate([ins, targets])
        ops = np.concatenate(
            [np.full(n_ins, "I"), np.full(n_upd, "U"), np.full(n_del, "D")]
        )
        if not self.sorted_keys:
            order = rng.permutation(n)
            keys, ops = keys[order], ops[order]
        lsn = np.arange(self.next_lsn, self.next_lsn + n, dtype=np.int64)
        ts = self.clock_us + np.arange(n, dtype=np.int64) * STEP_US
        # a late update carries an event time up to 10**5 events of clock
        # old: some still win over their key's last write, some lose
        is_late = (ops == "U") & (rng.random(n) < late)
        ts[is_late] -= rng.integers(10**6, 10**9, size=int(is_late.sum()))
        self.next_lsn += n
        self.clock_us += n * STEP_US

        fresh = self._frame(lsn, ops, keys, ts)
        resent = 0
        out = fresh
        if redeliver > 0 and self._prev is not None:
            resent = round(n * redeliver)
            pick = np.sort(rng.choice(len(self._prev), size=resent, replace=False))
            out = pd.concat([self._prev.iloc[pick], fresh], ignore_index=True)
        self._prev = fresh
        return out, resent

    def _frame(self, lsn, ops, keys, ts) -> pd.DataFrame:
        seq = keys // self.turns
        conv_num = (seq * self._mult + self._off) % PRIME
        turn = (keys % self.turns).astype(np.int32)
        conv = pc.binary_join_element_wise(
            "c", pc.utf8_lpad(pc.cast(pa.array(conv_num), pa.string()), 8, "0"), ""
        )
        text = pc.binary_join_element_wise(
            conv,
            pc.cast(pa.array(turn), pa.string()),
            pa.array(ops),
            pc.utf8_lpad(pc.cast(pa.array((lsn * 2654435761) % 100000), pa.string()), 40, "x"),
            ":",
        ).to_numpy(zero_copy_only=False)
        is_del = ops == "D"
        return pd.DataFrame(
            {
                "lsn": lsn,
                "op": ops,
                "conv_id": conv.to_numpy(zero_copy_only=False),
                "turn_idx": turn,
                "role": np.where(is_del, None, np.where(turn % 2 == 0, "user", "assistant")),
                "text": np.where(is_del, None, text),
                "tool": pd.Series([None] * len(ops), dtype=object),
                "ts": pd.to_datetime(BASE_EPOCH_US + ts, unit="us"),
            }
        )


def land_batch(df: pd.DataFrame, log_dir: str, batch_id: int) -> str:
    """Write a batch file so that it appears in ``log_dir`` atomically: the
    engine's lister only matches the final ``batch-*.parquet`` name."""
    path = os.path.join(log_dir, f"batch-{batch_id:05d}.parquet")
    tmp = os.path.join(log_dir, f".landing-{batch_id:05d}")
    pq.write_table(pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def reference_table(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Live rows after applying ``batches`` in arrival order, vectorized,
    with ``fixtures.apply_oracle`` semantics: malformed events are dropped,
    the first arrival of a duplicate LSN wins, the max ``(ts, lsn)`` wins
    per ``(conv_id, turn_idx)``, and tombstones are dropped. Sorted by key."""
    ev = pd.concat(batches, ignore_index=True)
    ev = ev[ev["lsn"].notna() & ev["op"].isin(["I", "U", "D"])]
    ev = ev[~ev["lsn"].duplicated(keep="first")]
    ev = ev.sort_values(["conv_id", "turn_idx", "ts", "lsn"], kind="stable")
    win = ev.drop_duplicates(["conv_id", "turn_idx"], keep="last")
    win = win[win["op"] != "D"]
    return win[ROW_COLUMNS].reset_index(drop=True)


def table_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows that differ between two key-sorted live-row tables (a row
    count difference counts in full)."""
    if len(got) != len(want):
        return abs(len(got) - len(want))
    got = got[ROW_COLUMNS].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = want[ROW_COLUMNS].reset_index(drop=True)
    bad = np.zeros(len(want), dtype=bool)
    for col in ROW_COLUMNS:
        a, b = got[col], want[col]
        if col == "ts":
            a = a.astype("datetime64[us]").astype(np.int64)
            b = b.astype("datetime64[us]").astype(np.int64)
        same = (a.to_numpy() == b.to_numpy()) | (a.isna().to_numpy() & b.isna().to_numpy())
        bad |= ~same
    return int(bad.sum())
