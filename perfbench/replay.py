"""Independent pandas replay of the CDC contract, used to check the engine.

Written from the contract alone (validation in `full` mode, last-writer-wins
by lsn with delete tombstones, text canonicalization CRLF/CR -> LF, NFC,
rstrip) so that agreement with the engine is evidence, not a copy of it.
Nothing here imports the program.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
import pyarrow.parquet as pq

INT32_MAX = 2**31 - 1
ROLES = {"user", "assistant", "system", "tool"}
OPS = {"I", "U", "D"}
MAX_TEXT_LEN = 65536
COLS = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]


def canon_text(s):
    if s is None:
        return None
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    return unicodedata.normalize("NFC", s).rstrip()


def load_rows(paths: list[str]) -> pd.DataFrame:
    """Segments as one frame in the canonical column set (v0 lacks `tool`)."""
    frames = []
    for p in paths:
        df = pq.read_table(p).to_pandas()
        if "tool" not in df.columns:
            df["tool"] = None
        df["turn_idx"] = df["turn_idx"].astype("Int64")
        df["ts"] = df["ts"].astype("int64")  # microseconds since the epoch
        frames.append(df[COLS])
    return pd.concat(frames, ignore_index=True)


def valid_mask(df: pd.DataFrame) -> pd.Series:
    ok = df["conv_id"].notna() & df["turn_idx"].notna()
    ok &= (df["turn_idx"].fillna(-1) >= 0) & (df["turn_idx"].fillna(-1) <= INT32_MAX)
    ok &= df["op"].isin(OPS)
    ok &= df["role"].isna() | df["role"].isin(ROLES)
    ok &= df["text"].isna() | (df["text"].str.len().fillna(0) <= MAX_TEXT_LEN)
    return ok.astype(bool)


class ReplayState:
    """Key -> winning row, tombstones included, advanced one batch at a time."""

    def __init__(self) -> None:
        self.rows: dict[tuple[str, int], dict] = {}
        self.quarantined = 0

    def apply(self, batch: pd.DataFrame) -> dict[tuple[str, int], str]:
        """Apply one micro-batch; returns the expected changelog {key: I|U|D}
        and records the batch's LWW winners in `self.last_winners`."""
        ok = valid_mask(batch)
        self.quarantined += int((~ok).sum())
        valid = batch[ok].sort_values("lsn", kind="mergesort")
        winners = valid.drop_duplicates(["conv_id", "turn_idx"], keep="last")
        self.last_winners = winners
        changes = {}
        for r in winners.to_dict("records"):
            key = (r["conv_id"], int(r["turn_idx"]))
            old = self.rows.get(key)
            if old is not None and old["lsn"] >= r["lsn"]:
                continue  # late row: the committed state is newer
            old_vis = old is not None and old["op"] != "D"
            new_vis = r["op"] != "D"
            if old_vis or new_vis:
                changes[key] = "U" if old_vis and new_vis else ("I" if new_vis else "D")
            self.rows[key] = r
        return changes

    def visible(self, conv_id: str | None = None) -> list[tuple]:
        """Live rows as sorted (conv_id, turn_idx, role, text, tool, ts)."""
        out = [
            (k[0], k[1], r["role"], canon_text(r["text"]), r["tool"], int(r["ts"]))
            for k, r in self.rows.items()
            if r["op"] != "D" and (conv_id is None or k[0] == conv_id)
        ]
        return sorted(out, key=lambda t: (t[0], t[1]))


def spark_rows(rows) -> list[tuple]:
    """Collected transcript Rows in the shape `ReplayState.visible` returns."""
    import calendar

    def us(ts):
        return calendar.timegm(ts.utctimetuple()) * 1_000_000 + ts.microsecond

    return sorted(
        ((r["conv_id"], int(r["turn_idx"]), r["role"], r["text"], r["tool"], us(r["ts"])) for r in rows),
        key=lambda t: (t[0], t[1]),
    )
