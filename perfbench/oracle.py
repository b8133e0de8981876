"""DuckDB oracle over the generated upsert log.

The log's event times advance from wave to wave and a key appears at
most once per wave, so the table's as-of state at ``t`` is the arg-max
of ``event_time`` per key over the log rows at or before ``t`` — no
file precedence needed. Each workload operation has a DuckDB twin here;
results are compared as plain Python tuples outside the timed span.
"""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import pyarrow as pa

#: (key, event_time, v, cat, qty) — the value columns every table carries
COLUMNS = ("key", "event_time", "v", "cat", "qty")

#: integer row-set fingerprint of a table state, spelled identically in
#: Spark SQL and DuckDB: any changed winner moves ``sum(v)`` (random
#: 31-bit values) and any key/value mix-up moves the keyed product sum.
#: It reads every column, so as a scan's action it does the work of the
#: noop sink.
FINGERPRINT = (
    "count(*)",
    "sum(v)",
    "sum(qty)",
    "sum(cast(substr(key, 2) AS BIGINT) * (v % 65521))",
    "sum(length(cat))",
    "sum(hour(event_time))",
)


def _micros(ts: datetime) -> int:
    if ts.tzinfo is None:  # Spark hands back naive UTC wall times
        ts = ts.replace(tzinfo=timezone.utc)
    delta = ts - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def normalize_rows(rows) -> list[tuple]:
    """Sorted tuples with event times as epoch microseconds."""
    out = []
    for r in rows:
        r = tuple(r)
        out.append(tuple(_micros(x) if isinstance(x, datetime) else x for x in r))
    return sorted(out, key=repr)


def _lit(t: datetime | None) -> str:
    return "TIMESTAMPTZ '9999-12-31 00:00:00+00'" if t is None else (
        f"TIMESTAMPTZ '{t.astimezone(timezone.utc).isoformat()}'"
    )


def asof_sql(t: datetime | None, where: str = "") -> str:
    """DuckDB relation: the table's state as of ``t`` (None = Current)."""
    cond = f"event_time <= {_lit(t)}" + (f" AND {where}" if where else "")
    return (
        f"(SELECT * FROM log WHERE {cond} "
        "QUALIFY row_number() OVER (PARTITION BY key ORDER BY event_time DESC) = 1)"
    )


class Oracle:
    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")

    def load(self, log: pa.Table) -> None:
        self.con.register("log", log)

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return normalize_rows(self.con.execute(sql).fetchall())

    def lookup(self, keys: list[str], t: datetime | None) -> list[tuple]:
        in_list = ", ".join(f"'{k}'" for k in keys)
        return self.rows(
            f"SELECT {', '.join(COLUMNS)} FROM {asof_sql(t, f'key IN ({in_list})')}"
        )

    def fingerprint(self, t: datetime | None) -> tuple:
        return tuple(
            self.con.execute(
                f"SELECT {', '.join(FINGERPRINT)} FROM {asof_sql(t)}"
            ).fetchone()
        )

    def state(self, t: datetime | None) -> pa.Table:
        return self.con.execute(
            f"SELECT {', '.join(COLUMNS)} FROM {asof_sql(t)} ORDER BY key"
        ).fetch_arrow_table()
