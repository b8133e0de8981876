"""Seeded inputs: the upsert log a table is built from, and the operation
streams the workloads replay against it.

Everything here is a pure function of ``(shape, seed)`` and touches no
Spark: the log is a list of waves (one batch of rows sharing one event
time), event times advance from wave to wave, and a key appears at most
once per wave. File precedence in the built table therefore equals the
latest timestamp, so the oracle is a plain arg-max per key at or before
the as-of instant.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
WAVE_STEP = timedelta(hours=1)
N_CATS = 16


@dataclass(frozen=True)
class Shape:
    """Table shape. ``segments[j]`` is the number of update waves in time
    segment ``j`` (segment 0 also holds wave 0, the initial load of every
    key); every later segment opens with the full key state at its start.
    The last ``committed`` waves are upsert commits through
    ``append_delta``; the rest are authored with ``TableWriter``."""

    n_keys: int
    segments: tuple[int, ...]
    wave_keys: int
    state_files: int
    wave_files: int
    committed: int = 1
    hot_keys: int = 200
    hot_share: float = 0.5


@dataclass(frozen=True)
class Wave:
    index: int
    ts: datetime
    keys: np.ndarray  # sorted distinct key ids
    table: pa.Table


def key_name(k) -> str:
    return f"k{int(k):07d}"


def _key_names(ids: np.ndarray) -> pa.Array:
    return pa.array(np.char.add("k", np.char.zfill(ids.astype(str), 7)))


def make_wave(rng: np.random.Generator, index: int, ids: np.ndarray) -> Wave:
    ts = T0 + index * WAVE_STEP
    n = len(ids)
    table = pa.table(
        {
            "key": _key_names(ids),
            "event_time": pa.array([ts] * n, pa.timestamp("us", tz="UTC")),
            "v": pa.array(rng.integers(0, 1 << 31, n), pa.int64()),
            "cat": pa.array(
                np.char.add("c", np.char.zfill(rng.integers(0, N_CATS, n).astype(str), 2))
            ),
            "qty": pa.array(rng.integers(0, 1000, n), pa.int64()),
        }
    )
    return Wave(index, ts, ids, table)


def pick_keys(rng: np.random.Generator, shape: Shape, count: int) -> np.ndarray:
    """About ``count`` distinct key ids, ``hot_share`` of them hot."""
    n_hot = min(shape.hot_keys, int(count * shape.hot_share))
    hot = rng.choice(shape.hot_keys, n_hot, replace=False)
    cold = rng.choice(shape.n_keys, count - n_hot, replace=False)
    return np.unique(np.concatenate([hot, cold]))


@dataclass
class Log:
    """The growing upsert log of one table."""

    shape: Shape
    rng: np.random.Generator
    waves: list[Wave] = field(default_factory=list)

    def append(self, count: int | None = None) -> Wave:
        index = len(self.waves)
        if index == 0:
            ids = np.arange(self.shape.n_keys)
        else:
            ids = pick_keys(self.rng, self.shape, count or self.shape.wave_keys)
        wave = make_wave(self.rng, index, ids)
        self.waves.append(wave)
        return wave

    def state(self, upto: int) -> pa.Table:
        """Latest row per key over waves ``0..upto`` (the full key state
        at wave ``upto``), one row per key in key order."""
        n = self.shape.n_keys
        row_of = np.full(n, -1, dtype=np.int64)
        wave_of = np.full(n, -1, dtype=np.int64)
        for w in self.waves[: upto + 1]:
            row_of[w.keys] = np.arange(len(w.keys))
            wave_of[w.keys] = w.index
        parts = []
        for w in self.waves[: upto + 1]:
            ids = np.nonzero(wave_of == w.index)[0]
            if len(ids):
                parts.append(w.table.take(pa.array(row_of[ids])))
        return pa.concat_tables(parts).sort_by("key")

    def table(self) -> pa.Table:
        return pa.concat_tables(w.table for w in self.waves)


def new_log(shape: Shape, seed: int) -> Log:
    log = Log(shape, np.random.default_rng(seed))
    log.append()
    for _ in range(sum(shape.segments)):
        log.append()
    return log


def segment_waves(shape: Shape) -> list[tuple[int, int]]:
    """``(first, last)`` wave index per segment. Segment 0 holds wave 0;
    segment ``j > 0`` starts at the time of wave ``first - 1``, whose
    full key state it opens with."""
    ends = np.cumsum(shape.segments)
    return [
        (0 if j == 0 else int(ends[j - 1]) + 1, int(ends[j]))
        for j in range(len(ends))
    ]


# -- operation streams ---------------------------------------------------


#: keys per lookup: every lookup does the same amount of work, so a
#: run's median does not hang on how many keys its few lookups drew
LOOKUP_KEYS = 4


def instant_after(rng: np.random.Generator, wave: Wave) -> datetime:
    """An instant strictly between ``wave`` and the next one."""
    return wave.ts + timedelta(minutes=int(rng.integers(1, 59)))


def lookup_keys(rng: np.random.Generator, shape: Shape) -> list[str]:
    """``LOOKUP_KEYS`` distinct key names, half of them hot."""
    return sorted(key_name(k) for k in pick_keys(rng, shape, LOOKUP_KEYS))
