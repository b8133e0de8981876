"""Snapshot metadata + temporal file pruning.

Reference: crates/azof/src/metadata.rs. A snapshot is a JSON document with
a declared schema and a tree of *segments*; pruning walks the tree and
emits the ordered file list for an ``AsOf``. The emission order IS the
merge precedence (crates/azof/src/metadata.rs:47-73, asserted by
metadata.rs:579-589):

1. in-range child segments first, recursively, in document order;
2. eligible delta files sorted by ``start`` DESC;
3. the segment's own base file last (only if the segment is in range).

First eligible occurrence of a key in this file order wins the as-of
merge — so a LOWER index in the returned list means HIGHER precedence.
Semantics preserved exactly:

- segment in-range: ``start <= t <= end`` inclusive, or ``start <= t``
  when open-ended; ``Current`` matches only open-ended segments
  (metadata.rs:75-86);
- delta eligibility ignores the delta's ``end``: ``delta.start <= t``
  (metadata.rs:98-104);
- top-level segments are all visited with no range check at the root
  (metadata.rs:20-25) — the base-file in-range check happens per segment.

This is all driver-side, metadata-time work (like Delta log file
skipping): pure Python, no Spark involvement, so pruning cost is
O(segments) regardless of data size.
"""

from __future__ import annotations

import base64
import hashlib
import json
from dataclasses import dataclass, field
from datetime import datetime

from bazof_spark.asof import AsOf, Current, format_rfc3339_ms, parse_rfc3339
from bazof_spark.errors import MetadataError
from bazof_spark.schema import TableSchema

# Point-lookup key sets larger than this fall back to range-only
# pruning: the per-file bloom probe is O(|keys|) per file, and a lookup
# that big is a join, not a point lookup.
MAX_BLOOM_PROBE_KEYS = 256


@dataclass(frozen=True)
class KeyBloom:
    """A fixed-size bloom filter over a file's key column — the
    second half of our file-skipping extension (zone-map ranges prune
    clustered layouts; blooms prune POINT lookups even when every
    file's [key_min, key_max] spans the whole key space, e.g.
    time-partitioned ingest where each batch touches scattered keys).

    Deterministic by construction: bit indexes come from
    Kirsch–Mitzenmacher double hashing (public construction,
    "Less Hashing, Same Performance", 2006) over the md5 digest of the
    UTF-8 key — index_i = (h1 + i*h2) mod m — so the same key set
    always yields identical bytes, and a filter built on one machine
    probes correctly on any other. ``might_contain`` may return a
    false positive (admitting a file is always safe) but never a false
    negative (the merge-safety requirement).

    Stored inline in the snapshot JSON (base64). At 100 TB scale a
    snapshot references many files; the inline encoding is bounded at
    ``M_MAX_BITS`` (32 KiB raw) per file and skipped entirely when the
    key cardinality would degrade the FPR past usefulness — a real
    deployment graduates to sidecar stat files (Delta/Iceberg style)
    behind the same ``KeyBloom`` probe interface."""

    m: int  # filter size in bits (power of two)
    k: int  # number of hash probes
    data: bytes

    BITS_PER_KEY = 10
    M_MIN_BITS = 1024
    M_MAX_BITS = 1 << 18  # 32 KiB raw / ~43 KiB base64 per file
    MAX_KEYS = 25_000  # beyond this m would cap out; skip the bloom

    @staticmethod
    def build(keys) -> "KeyBloom | None":
        """Bloom over a key set, or None when the set is empty or too
        large for the inline size budget (absent bloom = no pruning,
        never an error)."""
        ks = {str(k) for k in keys}
        n = len(ks)
        if n == 0 or n > KeyBloom.MAX_KEYS:
            return None
        m = KeyBloom.M_MIN_BITS
        while m < n * KeyBloom.BITS_PER_KEY and m < KeyBloom.M_MAX_BITS:
            m <<= 1
        k = max(1, min(8, round(0.693 * m / n)))
        bits = bytearray(m // 8)
        for key in ks:
            for idx in KeyBloom._indexes(key, m, k):
                bits[idx >> 3] |= 1 << (idx & 7)
        return KeyBloom(m=m, k=k, data=bytes(bits))

    @staticmethod
    def _indexes(key: str, m: int, k: int):
        digest = hashlib.md5(key.encode("utf-8")).digest()
        h1 = int.from_bytes(digest[:8], "little")
        h2 = int.from_bytes(digest[8:16], "little") | 1  # odd ⇒ full cycle
        for i in range(k):
            yield (h1 + i * h2) % m

    def might_contain(self, key: str) -> bool:
        for idx in KeyBloom._indexes(str(key), self.m, self.k):
            if not (self.data[idx >> 3] >> (idx & 7)) & 1:
                return False
        return True

    @staticmethod
    def from_json(obj: dict) -> "KeyBloom | None":
        """Parse the optional ``key_bloom`` node; any malformed field
        yields None (pruning disabled for that file, never a failed
        snapshot load — stats are advisory, the temporal walk is not)."""
        try:
            m, k = int(obj["m"]), int(obj["k"])
            data = base64.b64decode(obj["b64"], validate=True)
            if m <= 0 or m % 8 != 0 or k <= 0 or len(data) != m // 8:
                return None
            return KeyBloom(m=m, k=k, data=data)
        except (KeyError, TypeError, ValueError):
            return None

    def to_json(self) -> dict:
        return {
            "m": self.m,
            "k": self.k,
            "b64": base64.b64encode(self.data).decode("ascii"),
        }


@dataclass(frozen=True)
class KeyRange:
    """A closed key-range predicate ``[lo, hi]`` (string keys, lex
    order; None = unbounded on that side) used for FILE-LEVEL zone-map
    pruning — our extension over the reference's temporal-only pruning
    (crates/azof/src/metadata.rs:47-86). Dropping a file whose
    ``[key_min, key_max]`` is disjoint from the range is merge-safe:
    the as-of winner for a key is computed only from files that can
    contain that key, and a disjoint file contains none of the
    requested keys."""

    lo: str | None = None
    hi: str | None = None
    # the EXACT requested keys when the predicate came from a point
    # lookup (scan(keys=...) / pushed `key =` equalities): enables the
    # per-file bloom probe on top of the [lo, hi] bound. None for true
    # range predicates or key sets past MAX_BLOOM_PROBE_KEYS.
    keys: tuple[str, ...] | None = None

    @staticmethod
    def of_keys(keys) -> "KeyRange":
        ks = sorted({str(k) for k in keys})
        if not ks:
            raise MetadataError("empty key set for KeyRange")
        probe = tuple(ks) if len(ks) <= MAX_BLOOM_PROBE_KEYS else None
        return KeyRange(lo=ks[0], hi=ks[-1], keys=probe)

    def admits(
        self,
        key_min: str | None,
        key_max: str | None,
        bloom: "KeyBloom | None" = None,
    ) -> bool:
        """May a file with these zone-map stats contain a requested
        key? Range check first (cheap), then — for point lookups with
        a file bloom — the membership probe: if NO requested key might
        be in the file, it is skipped even when its [key_min, key_max]
        overlaps (the scattered-layout case ranges can't prune). Files
        WITHOUT stats (older snapshots, reference-authored snapshots,
        undecodable bounds) are always admitted — pruning is an
        optimization, never a correctness dependency."""
        if key_min is not None and key_max is not None:
            if self.lo is not None and key_max < self.lo:
                return False
            if self.hi is not None and key_min > self.hi:
                return False
        if self.keys is not None and bloom is not None:
            return any(bloom.might_contain(k) for k in self.keys)
        return True


def _ts_invisible(ts_min: datetime | None, as_of: AsOf) -> bool:
    """True when a file's MEASURED minimum event_time lies beyond the
    as-of instant: every row would be filtered by ``event_time <= t``,
    so the file contributes nothing and may be skipped. Catches files
    the declared ``start`` admits (eligibility is semantic precedence,
    metadata.rs:98-104 — unchanged) whose actual rows are all newer,
    e.g. a wide-declared batch scanned at a deep-past instant."""
    if as_of.is_current or ts_min is None:
        return False
    return ts_min > as_of.event_time_at


@dataclass(frozen=True)
class Delta:
    """A parquet batch of upserts covering event-time ``[start, end]``
    (crates/azof/src/metadata.rs:89-96). ``key_min``/``key_max`` (key
    bounds) and ``ts_min``/``ts_max`` (measured event_time bounds) are
    optional file-level zone-map stats (our extension — written from
    the parquet footer at commit time, absent on snapshots authored by
    the reference or by older writers)."""

    file: str
    start: datetime
    end: datetime
    key_min: str | None = None
    key_max: str | None = None
    ts_min: datetime | None = None
    ts_max: datetime | None = None
    key_bloom: KeyBloom | None = None
    #: file length in bytes (our extension, written at commit time) —
    #: lets scan planning split large files into byte ranges without a
    #: stat/HEAD round-trip per file; absent ⇒ planner stats the file
    size: int | None = None
    #: our extension (Delta-Lake-style DELETE): a tombstone delta's rows
    #: carry only (key, event_time); a tombstone row winning the merge
    #: makes its key invisible at that as-of instead of surfacing. The
    #: flag is metadata-only — eligibility/precedence are the ordinary
    #: delta rules, so time travel before the delete sees the old row
    #: and a later upsert resurrects the key. Absent in
    #: reference-authored snapshots (reads there are unchanged).
    tombstone: bool = False

    def is_before(self, as_of: AsOf) -> bool:
        """Eligibility (metadata.rs:98-104): Current ⇒ always; EventTime ⇒
        ``start <= t`` (the delta's ``end`` is intentionally ignored)."""
        if as_of.is_current:
            return True
        return self.start <= as_of.event_time_at

    @staticmethod
    def from_json(obj: dict) -> "Delta":
        try:
            return Delta(
                file=obj["file"],
                start=parse_rfc3339(obj["start"]),
                end=parse_rfc3339(obj["end"]),
                key_min=obj.get("key_min"),
                key_max=obj.get("key_max"),
                ts_min=(
                    parse_rfc3339(obj["ts_min"]) if obj.get("ts_min") else None
                ),
                ts_max=(
                    parse_rfc3339(obj["ts_max"]) if obj.get("ts_max") else None
                ),
                key_bloom=(
                    KeyBloom.from_json(obj["key_bloom"])
                    if isinstance(obj.get("key_bloom"), dict)
                    else None
                ),
                size=(
                    obj["size"]
                    # bool is an int subclass; "size": true must read
                    # as malformed (→ None), not as size=1
                    if type(obj.get("size")) is int and obj["size"] > 0
                    else None
                ),
                tombstone=bool(obj.get("tombstone", False)),
            )
        except (KeyError, ValueError) as exc:
            raise MetadataError(f"bad delta {obj!r}: {exc}") from exc

    def to_json(self) -> dict:
        out = {
            "file": self.file,
            "start": format_rfc3339_ms(self.start),
            "end": format_rfc3339_ms(self.end),
        }
        if self.key_min is not None:
            out["key_min"] = self.key_min
        if self.key_max is not None:
            out["key_max"] = self.key_max
        if self.ts_min is not None:
            out["ts_min"] = format_rfc3339_ms(self.ts_min)
        if self.ts_max is not None:
            out["ts_max"] = format_rfc3339_ms(self.ts_max)
        if self.key_bloom is not None:
            out["key_bloom"] = self.key_bloom.to_json()
        if self.size is not None:
            out["size"] = self.size
        if self.tombstone:
            out["tombstone"] = True
        return out


@dataclass(frozen=True)
class Segment:
    """A logical event-time-range partition
    (crates/azof/src/metadata.rs:28-45). ``key_min``/``key_max`` are
    the optional zone-map bounds of the segment's BASE file."""

    id: str
    start: datetime
    end: datetime | None = None
    file: str | None = None  # base file: full key state at `start`
    segments: tuple["Segment", ...] = field(default_factory=tuple)
    delta: tuple[Delta, ...] = field(default_factory=tuple)
    key_min: str | None = None
    key_max: str | None = None
    ts_min: datetime | None = None
    ts_max: datetime | None = None
    key_bloom: KeyBloom | None = None
    size: int | None = None  # base-file bytes; see Delta.size

    def is_in_range(self, as_of: AsOf) -> bool:
        """metadata.rs:75-86 — Current matches only open-ended segments;
        EventTime uses inclusive bounds."""
        if as_of.is_current:
            return self.end is None
        t = as_of.event_time_at
        if self.end is not None:
            return self.start <= t <= self.end
        return self.start <= t

    def get_data_files(
        self, as_of: AsOf, key_range: KeyRange | None = None
    ) -> list[str]:
        """metadata.rs:47-73 — children, then deltas (start DESC), then
        own base file if in range. ``key_range`` additionally drops
        files whose zone-map bounds are disjoint from it (files without
        stats always pass); relative precedence order is untouched."""
        files: list[str] = []
        for sub in self.segments:
            if sub.is_in_range(as_of):
                files.extend(sub.get_data_files(as_of, key_range))
        eligible = [
            d
            for d in self.delta
            if d.is_before(as_of)
            and not _ts_invisible(d.ts_min, as_of)
            and (
                key_range is None
                or key_range.admits(d.key_min, d.key_max, d.key_bloom)
            )
        ]
        eligible.sort(key=lambda d: d.start, reverse=True)
        files.extend(d.file for d in eligible)
        if (
            self.is_in_range(as_of)
            and self.file is not None
            and not _ts_invisible(self.ts_min, as_of)
            and (
                key_range is None
                or key_range.admits(self.key_min, self.key_max, self.key_bloom)
            )
        ):
            files.append(self.file)
        return files

    @staticmethod
    def from_json(obj: dict) -> "Segment":
        try:
            return Segment(
                id=str(obj["id"]),
                start=parse_rfc3339(obj["start"]),
                end=parse_rfc3339(obj["end"]) if obj.get("end") else None,
                file=obj.get("file"),
                segments=tuple(
                    Segment.from_json(s) for s in obj.get("segments") or ()
                ),
                delta=tuple(Delta.from_json(d) for d in obj.get("delta") or ()),
                key_min=obj.get("key_min"),
                key_max=obj.get("key_max"),
                ts_min=(
                    parse_rfc3339(obj["ts_min"]) if obj.get("ts_min") else None
                ),
                ts_max=(
                    parse_rfc3339(obj["ts_max"]) if obj.get("ts_max") else None
                ),
                key_bloom=(
                    KeyBloom.from_json(obj["key_bloom"])
                    if isinstance(obj.get("key_bloom"), dict)
                    else None
                ),
                size=(
                    obj["size"]
                    # bool is an int subclass; "size": true must read
                    # as malformed (→ None), not as size=1
                    if type(obj.get("size")) is int and obj["size"] > 0
                    else None
                ),
            )
        except (KeyError, ValueError) as exc:
            raise MetadataError(f"bad segment {obj!r}: {exc}") from exc

    def to_json(self) -> dict:
        out: dict = {"id": self.id, "start": format_rfc3339_ms(self.start)}
        if self.end is not None:
            out["end"] = format_rfc3339_ms(self.end)
        if self.file is not None:
            out["file"] = self.file
        if self.key_min is not None:
            out["key_min"] = self.key_min
        if self.key_max is not None:
            out["key_max"] = self.key_max
        if self.ts_min is not None:
            out["ts_min"] = format_rfc3339_ms(self.ts_min)
        if self.ts_max is not None:
            out["ts_max"] = format_rfc3339_ms(self.ts_max)
        if self.key_bloom is not None:
            out["key_bloom"] = self.key_bloom.to_json()
        if self.size is not None:
            out["size"] = self.size
        if self.segments:
            out["segments"] = [s.to_json() for s in self.segments]
        if self.delta:
            out["delta"] = [d.to_json() for d in self.delta]
        return out


@dataclass(frozen=True)
class Snapshot:
    """A consistent view of a table: schema + segment tree
    (crates/azof/src/metadata.rs:9-13)."""

    segments: tuple[Segment, ...]
    schema: TableSchema

    @staticmethod
    def deserialize(json_string: str) -> "Snapshot":
        try:
            obj = json.loads(json_string)
        except json.JSONDecodeError as exc:
            raise MetadataError(f"snapshot is not valid JSON: {exc}") from exc
        return Snapshot(
            segments=tuple(Segment.from_json(s) for s in obj.get("segments", [])),
            schema=TableSchema.from_json(obj.get("schema", {})),
        )

    def serialize(self) -> str:
        return json.dumps(
            {
                "schema": self.schema.to_json(),
                "segments": [s.to_json() for s in self.segments],
            },
            indent=2,
        )

    def get_data_files(
        self, as_of: AsOf = Current, key_range: KeyRange | None = None
    ) -> list[str]:
        """Ordered file list; index in the list is the merge precedence
        rank (lower = wins). metadata.rs:20-25: all top-level segments are
        visited, no root-level range check. ``key_range`` applies
        zone-map file pruning on top of the temporal walk (see
        :class:`KeyRange`)."""
        files: list[str] = []
        for segment in self.segments:
            files.extend(segment.get_data_files(as_of, key_range))
        return files

    def tombstone_files(self) -> frozenset[str]:
        """File names of every tombstone delta anywhere in the segment
        tree (our DELETE extension — see :class:`Delta`). Empty for
        reference-authored or delete-free snapshots, in which case the
        readers skip the tombstone filter entirely."""

        def _walk(seg: Segment):
            for sub in seg.segments:
                yield from _walk(sub)
            for d in seg.delta:
                if d.tombstone:
                    yield d.file

        return frozenset(
            f for seg in self.segments for f in _walk(seg)
        )

    def ranked_data_files(
        self, as_of: AsOf = Current, key_range: KeyRange | None = None
    ) -> list[tuple[str, int]]:
        """``[(file, rank)]`` with rank = position in precedence order.
        Ranks are positions WITHIN the pruned list: only relative order
        matters to the merge, and every file that can contain a key in
        ``key_range`` keeps its relative position."""
        return [
            (f, i) for i, f in enumerate(self.get_data_files(as_of, key_range))
        ]

    def file_key_stats(
        self,
    ) -> dict[str, tuple[str | None, str | None, KeyBloom | None]]:
        """``file → (key_min, key_max, key_bloom)`` over the whole tree
        (missing stats ⇒ Nones) — the zone-map stats report of the CLI
        ``stats`` command. Scans prune through :meth:`get_data_files`."""
        out: dict[str, tuple[str | None, str | None, KeyBloom | None]] = {}

        def walk(seg: Segment) -> None:
            for sub in seg.segments:
                walk(sub)
            for d in seg.delta:
                out[d.file] = (d.key_min, d.key_max, d.key_bloom)
            if seg.file is not None:
                out[seg.file] = (seg.key_min, seg.key_max, seg.key_bloom)

        for seg in self.segments:
            walk(seg)
        return out

    def file_sizes(self) -> dict[str, int]:
        """``file → bytes`` for every file whose commit recorded its
        length (our extension; reference-authored or older snapshots
        record none) — scan planning splits those files into byte
        ranges with zero stat/HEAD calls and stats only the rest."""
        out: dict[str, int] = {}

        def walk(seg: Segment) -> None:
            for sub in seg.segments:
                walk(sub)
            for d in seg.delta:
                if d.size is not None:
                    out[d.file] = d.size
            if seg.file is not None and seg.size is not None:
                out[seg.file] = seg.size

        for seg in self.segments:
            walk(seg)
        return out
