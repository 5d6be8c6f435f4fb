"""Seeded transcript corpus for the engine benchmark.

The benchmark makes its own input instead of calling ``transcriptts.synth``:
the engine only ever receives the generated parquet. Two properties matter
that raw ``synth`` does not give:

* a steady daily volume, so every incremental maintenance cycle appends a
  comparable day;
* conversations that continue across midnight, so the pipeline's
  incremental seed rows (last turn before the cutoff) are exercised.

Conversations start uniformly over each day. Turn counts are geometric
(mean ``MEAN_TURNS``) with ``HOT_FRACTION`` hot conversations at x``HOT_FACTOR``, inter-turn gaps mix quick
exchanges (1-30 s) with pauses (2-40 min), and a conversation keeps only
the turns of its first ``LIFETIME_DAYS`` days. One metronome conversation
runs through every day at one turn per ``metronome_period_s`` seconds.

Day ``d`` is generated from ``(seed, d)`` alone, so a day can be made on
demand and the same seed always gives the same turns.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BASE_TS_US = 1735689600_000000  # 2025-01-01T00:00:00Z
DAY_US = 86_400_000_000
LIFETIME_DAYS = 3
MEAN_TURNS = 12
HOT_FRACTION = 0.02
HOT_FACTOR = 50
METRONOME_ID = "metronome"

_WORDS = np.array(
    "the a of to and in is it you that he was for on are with as i his they be "
    "at one have this from or had by word but what some we can out other were "
    "all there when up use your how said an each she which do their time if "
    "will way about many then them write would like so these her long make "
    "thing see him two has look more day could go come did number sound no "
    "most people my over know water than call first who may down side been".split()
)
_ROLES = np.array(["user", "assistant", "tool"])
_TOOLS = np.array(["search", "calc", "browser", "python", "sql"])

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def day_label(day: int) -> str:
    return str(np.datetime64(BASE_TS_US + day * DAY_US, "us").astype("datetime64[D]"))


class Corpus:
    """Turns of ``convs_per_day`` new conversations a day plus a metronome."""

    def __init__(self, seed: int, convs_per_day: int, metronome_period_s: int):
        self.seed = seed
        self.convs_per_day = convs_per_day
        self.metronome_period_s = metronome_period_s
        self._started: dict[int, dict[str, np.ndarray]] = {}

    def _start_day(self, day: int) -> dict[str, np.ndarray]:
        """Every turn of the conversations that start on ``day``."""
        if day in self._started:
            return self._started[day]
        rng = np.random.default_rng([self.seed, day])
        n = self.convs_per_day
        base = rng.geometric(1.0 / MEAN_TURNS, size=n).clip(2, MEAN_TURNS * 20)
        hot = rng.random(n) < HOT_FRACTION
        n_turns = np.where(hot, base * HOT_FACTOR, base).astype(np.int64)
        starts = BASE_TS_US + day * DAY_US + rng.integers(0, DAY_US, size=n)
        total = int(n_turns.sum())
        first = np.zeros(total, dtype=bool)
        first[np.concatenate([[0], np.cumsum(n_turns)[:-1]])] = True
        gaps = np.where(
            rng.random(total) < 0.85,
            rng.integers(1_000_000, 30_000_000, size=total),
            rng.integers(120_000_000, 2_400_000_000, size=total),
        )
        gaps[first] = 0
        conv = np.repeat(np.arange(n), n_turns)
        cum = np.cumsum(gaps)
        ts = np.repeat(starts, n_turns) + cum - np.repeat(cum[first], n_turns)
        turn_idx = np.arange(total) - np.repeat(np.flatnonzero(first), n_turns)
        keep = ts < BASE_TS_US + (day + LIFETIME_DAYS) * DAY_US
        out = {
            "conv": conv[keep],
            "turn_idx": turn_idx[keep],
            "ts": ts[keep],
            "hot": np.repeat(hot, n_turns)[keep],
            "noise": rng.integers(0, 2**31, size=total)[keep],
        }
        self._started[day] = out
        return out

    def day(self, day: int) -> pa.Table:
        """All turns whose timestamp falls on ``day`` (0-based from BASE)."""
        lo, hi = BASE_TS_US + day * DAY_US, BASE_TS_US + (day + 1) * DAY_US
        conv_ids, turn_idx, ts, hot, noise = [], [], [], [], []
        for s in range(max(0, day - LIFETIME_DAYS + 1), day + 1):
            t = self._start_day(s)
            m = (t["ts"] >= lo) & (t["ts"] < hi)
            conv_ids.append(np.char.add(f"c{s:03d}-", t["conv"][m].astype("U6")))
            turn_idx.append(t["turn_idx"][m])
            ts.append(t["ts"][m])
            hot.append(t["hot"][m])
            noise.append(t["noise"][m])
        p = self.metronome_period_s * 1_000_000
        k = np.arange(-(-(lo - BASE_TS_US) // p), -(-(hi - BASE_TS_US) // p))
        conv_ids.append(np.full(len(k), METRONOME_ID))
        turn_idx.append(k)
        ts.append(BASE_TS_US + k * p)
        hot.append(np.zeros(len(k), dtype=bool))
        noise.append(np.random.default_rng([self.seed, day, 1]).integers(0, 2**31, size=len(k)))
        return _table(
            np.concatenate(conv_ids), np.concatenate(turn_idx), np.concatenate(ts),
            np.concatenate(noise), np.concatenate(hot),
        )

    def days(self, first: int, last: int) -> pa.Table:
        """Turns of days ``first`` .. ``last - 1``."""
        return pa.concat_tables([self.day(d) for d in range(first, last)])


def _table(conv_ids, turn_idx, ts, noise, hot) -> pa.Table:
    n = len(ts)
    rng = np.random.default_rng(noise[:1].tolist() + [n])
    n_words = (1 + rng.pareto(2.5, size=n) * 8).astype(np.int64).clip(1, 60)
    words = _WORDS[(noise[:, None] * 7919 + np.arange(60)[None, :] * 104729) % len(_WORDS)]
    texts = [" ".join(words[i, : n_words[i]]) for i in range(n)]
    roles = _ROLES[turn_idx % 3]
    tools = np.where(roles == "tool", _TOOLS[noise % len(_TOOLS)], None)
    tbl = pa.table(
        {
            "conv_id": pa.array(conv_ids.astype(str), pa.string()),
            "turn_idx": pa.array(turn_idx.astype(np.int32), pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools.tolist(), pa.string()),
            "ts": pa.array(ts.astype(np.int64), pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )
    return tbl.append_column("_hot", pa.array(hot, pa.bool_()))


def stats(tbl: pa.Table) -> dict:
    """Corpus figures recorded next to every result."""
    conv = tbl.column("conv_id").to_numpy(zero_copy_only=False)
    ts = tbl.column("ts").cast(pa.int64()).to_numpy()
    day = (ts - BASE_TS_US) // DAY_US
    days, per_day = np.unique(day, return_counts=True)
    minute = (ts - BASE_TS_US) // 60_000_000
    _, conv_code = np.unique(conv, return_inverse=True)
    observed = np.unique(conv_code.astype(np.int64) * (1 << 40) + minute)
    oc = observed >> 40
    om = observed & ((1 << 40) - 1)
    lo = np.full(oc.max() + 1, np.iinfo(np.int64).max)
    hi = np.zeros(oc.max() + 1, dtype=np.int64)
    np.minimum.at(lo, oc, om)
    np.maximum.at(hi, oc, om)
    return {
        "turns": int(tbl.num_rows),
        "conversations": int(oc.max() + 1),
        "days": int(len(days)),
        "turns_per_day": [int(c) for c in per_day],
        "hot_share": round(float(tbl.column("_hot").to_numpy(zero_copy_only=False).mean()), 4),
        "dense_per_observed_1m": round(float((hi - lo + 1).sum() / len(observed)), 3),
    }
