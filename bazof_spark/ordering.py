"""Latest-wins ordering structs for the two raw-row sources.

The batch Data Source / ``Lakehouse.scan`` internals and the native
stream reader both expose ``_rank`` and ``_row_idx`` helper columns —
with OPPOSITE ``_rank`` conventions:

- **batch** (``spark.read.format("bazof")``, ``Lakehouse.scan``):
  ``_rank`` is the file-precedence index from the snapshot's pruning
  order (crates/azof/src/metadata.rs:47-73) — LOWER means higher
  precedence (child segments shadow parents, newer deltas shadow
  older);
- **stream** (``spark.readStream.format("bazof")``): ``_rank`` is the
  snapshot VERSION that committed the file — HIGHER means newer.

Consumers that hand-build the ``max_by`` precedence struct for one
source and reuse it on the other silently keep the *oldest* version of
every key. This helper is the one place that knows both conventions;
use it instead of writing the struct inline::

    winner = df.groupBy("key").agg(
        F.max_by(payload, latest_wins_ordering("stream")).alias("_w")
    )

Both variants share the remaining tie-breaks: newest ``event_time``
wins, then the FIRST physical row within a file (``-_row_idx`` — the
reference's intra-file rule, crates/azof/src/lakehouse.rs:54-79, which
its own financials fixture exercises with 5 duplicate (key, event_time)
pairs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bazof_spark.schema import EVENT_TIME_COL

SOURCES = ("batch", "stream")


def latest_wins_ordering(source: str = "batch") -> Column:
    """The ``max_by`` ordering struct under which the maximum row is the
    latest-wins winner for ``source`` (``"batch"`` or ``"stream"``).

    Expects the raw-row columns the corresponding reader emits:
    ``_rank``, ``event_time``, ``_row_idx``.
    """
    if source == "batch":
        # lower _rank = higher file precedence ⇒ negate for max_by
        rank = (-F.col("_rank")).alias("neg_rank")
    elif source == "stream":
        # _rank IS the committing snapshot version ⇒ higher = newer
        rank = F.col("_rank").alias("version")
    else:
        raise ValueError(
            f"source must be one of {SOURCES}, got {source!r}"
        )
    return F.struct(
        rank,
        F.col(EVENT_TIME_COL).alias("ts"),
        (-F.col("_row_idx")).alias("neg_row_idx"),
    )


def latest_wins_ordering_sql(source: str = "batch") -> str:
    """SQL-text twin of :func:`latest_wins_ordering` — parses to the
    IDENTICAL analyzed expression tree. Merge sites that assemble their
    ``max_by`` aggregate as ONE ``F.expr`` string use this to cut py4j
    construction round trips (hundreds of driver↔JVM socket turns per
    scan become a handful; the resolved plan is unchanged). Change the
    two functions together."""
    if source == "batch":
        rank = "(- _rank) AS neg_rank"
    elif source == "stream":
        rank = "_rank AS version"
    else:
        raise ValueError(
            f"source must be one of {SOURCES}, got {source!r}"
        )
    return f"struct({rank}, {EVENT_TIME_COL} AS ts, (- _row_idx) AS neg_row_idx)"


#: Arrow twin of ``latest_wins_ordering_sql("batch")``: the ``sort_by``
#: keys under which the FIRST row of each key is the row ``max_by``
#: picks (the driver-side merge of ``Lakehouse.scan`` keyed lookups).
#: Change it together with the two functions above.
LATEST_WINS_SORT_KEYS = (
    ("_rank", "ascending"),
    (EVENT_TIME_COL, "descending"),
    ("_row_idx", "ascending"),
)


def quote_sql_ident(name: str) -> str:
    """Backtick-quote an identifier for embedding in an ``F.expr``
    string (doubles embedded backticks, the Spark SQL escape)."""
    return "`" + name.replace("`", "``") + "`"


def latest_wins_agg(
    value_cols: list[str],
    tombstone_sql: str | None = None,
    source: str = "batch",
) -> Column:
    """The whole latest-wins ``max_by(payload, ordering)`` aggregate as
    ONE parsed expression: payload = struct(event_time, *value_cols
    [, (tombstone_sql) AS _tombstone]), ordering =
    :func:`latest_wins_ordering_sql`. Field names follow the column
    names exactly as the Column-by-Column construction did (``struct``
    auto-names fields after their source columns), so the analyzed plan
    — and every plan pin — is byte-identical up to expression IDs."""
    fields = [EVENT_TIME_COL] + [quote_sql_ident(c) for c in value_cols]
    if tombstone_sql is not None:
        fields.append(f"({tombstone_sql}) AS _tombstone")
    return F.expr(
        f"max_by(struct({', '.join(fields)}), "
        f"{latest_wins_ordering_sql(source)})"
    )
