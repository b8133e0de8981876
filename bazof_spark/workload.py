"""The judge-facing workload: every operator from SURVEY.md §2 (plus the
training-data-pipeline operators) as a named query with a DuckDB oracle.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Column names are aliased identically on both sides (the driver sorts
columns by name before hashing). Float outputs either come from
decimal-exact arithmetic cast to double (bit-reproducible across
engines) or are rounded to 6 dp on BOTH sides.

Every entry has an oracle. The three trickiest (simhash, LSH-ANN,
IVF-ANN) are made cross-engine-checkable by construction: md5-derived
hash bits, seeded hyperplanes embedded as SQL literals, and a
deterministic corpus-slice quantizer respectively.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bazof_spark.functions import text as T
from bazof_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_lsh_pairs_between,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from bazof_spark.operators.multimodal import (
    extract_image_features,
    resize_images,
    sample_video_frames,
)
from bazof_spark.operators.similarity import (
    cosine_pairs_blocked,
    cosine_topk_bruteforce,
    ivf_ann_topk,
    ivf_pq_topk,
    lsh_ann_topk,
    pq_adc_topk,
    pq_codebooks_from_rows,
    quantize_int8,
    sq8_topk,
)
from bazof_spark.sources.events import (
    KEYED_TABLE_NAME,
    events_key_clustered_lakehouse,
    events_lakehouse,
)
from bazof_spark.sources.tables import rebalance_if_undersplit

QueryFn = Callable[[SparkSession, str], DataFrame]

ASOF_TS = "2024-01-15T00:00:00.000Z"
ASOF_TS_EARLY = "2024-01-10T00:00:00.000Z"
ASOF_TS_LATE = "2024-01-25T00:00:00.000Z"


def _t(name: str):
    def load(spark: SparkSession, sf_dir: str) -> DataFrame:
        from bazof_spark.sources.tables import load_table

        return load_table(spark, sf_dir, name)

    return load


def _dec(col: str, p: int = 18, s: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Core format operators (SURVEY §2.A): as-of scans + time-travel SQL over an
# azof-format materialization of the events log.
# ---------------------------------------------------------------------------


def _events_oracle_cte(where: str = "TRUE") -> str:
    """Latest event per user (≤ optional bound) — the SQL twin of the
    as-of merge-dedup (crates/azof/src/lakehouse.rs:40-79)."""
    return f"""
        SELECT CAST(user_id AS VARCHAR) AS key,
               epoch_us(CAST(ts AS TIMESTAMP)) AS event_time_us,
               event_id, event_type, value, props
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC
            ) AS _rn
            FROM events WHERE {where}
        ) WHERE _rn = 1
    """


def _scan_events(spark, sf_dir, as_of=None, columns=None) -> DataFrame:
    lh = events_lakehouse(spark, sf_dir)
    return lh.scan("events_versioned", as_of=as_of, columns=columns)


def asof_scan_current(spark, sf_dir):
    """Op: as-of merge-dedup, Current (lakehouse.rs:29-86)."""
    return _scan_events(spark, sf_dir).select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def delete_tombstone_scan(spark, sf_dir):
    """Op: the tombstone DELETE extension under the driver oracle — a
    clone of events_versioned with every user_id % 7 == 0 deleted at an
    instant past the log (writer.delete_keys, DataFrame path). Current
    must equal 'latest event per surviving user'; the tombstone rows
    compete in the SAME one-shuffle merge and are hidden by one
    post-aggregate predicate (lakehouse._dedup_latest_per_key)."""
    from bazof_spark.sources.events import events_deleted_lakehouse

    lh = events_deleted_lakehouse(spark, sf_dir)
    return lh.scan("events_deleted").select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def update_set_scan(spark, sf_dir):
    """Op: the UPDATE extension under the driver oracle — a clone of
    events_versioned where every Current 'click' row got value doubled
    and the type retagged at a fixed instant (Lakehouse.update, the
    SQL UPDATE statement's engine). Current must equal 'latest event
    per user, with the SET expressions applied to the matched rows';
    the updated versions compete in the SAME one-shuffle merge."""
    from bazof_spark.sources.events import events_updated_lakehouse

    lh = events_updated_lakehouse(spark, sf_dir)
    return lh.scan("events_updated").select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def merge_delete_scan(spark, sf_dir):
    """Op: SQL MERGE ... WHEN MATCHED AND <pred> THEN DELETE under the
    driver oracle — a clone of events_versioned where the source's
    modulus-matched keys whose CURRENT value is under the bound were
    tombstoned through the merge-delete statement. Current must equal
    'latest event per user, minus the matched-and-predicated keys'."""
    from bazof_spark.sources.events import events_merge_deleted_lakehouse

    lh = events_merge_deleted_lakehouse(spark, sf_dir)
    return lh.scan("events_merge_deleted").select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def merge_multi_clause_scan(spark, sf_dir):
    """Op: combined multi-clause SQL MERGE (round 8) under the driver
    oracle — a clone of events_versioned put through ONE statement
    whose clause list is DELETE (current value < 50) → UPDATE SET *
    (current value < 200, source row = value*10 at 2024-03-01) →
    INSERT * (3 synthetic unmatched keys), first match wins per key,
    compiled to one atomic snapshot (writer.merge_apply: data delta +
    tombstone delta in the same version)."""
    from bazof_spark.sources.events import events_merge_multi_lakehouse

    lh = events_merge_multi_lakehouse(spark, sf_dir)
    return lh.scan("events_merge_multi").select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def merge_by_source_scan(spark, sf_dir):
    """Op: MERGE with WHEN NOT MATCHED BY SOURCE THEN DELETE (round 8,
    the Delta sync-to-source shape) — matched keys (%4 == 0) upsert the
    source row (value*2, 'kept', merge instant); UNMATCHED target keys
    whose current value < 150 are deleted; value ≥ 150 (or NULL — the
    engine's coalesce(pred, false)) survive. One atomic commit."""
    from bazof_spark.sources.events import events_merge_bysrc_lakehouse

    lh = events_merge_bysrc_lakehouse(spark, sf_dir)
    return lh.scan("events_merge_bysrc").select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def merge_by_source_update_scan(spark, sf_dir):
    """Op: MERGE with a WHEN NOT MATCHED BY SOURCE clause LIST (round
    9 — DELETE then UPDATE SET, Delta's full sync-to-source surface):
    matched keys (%5 == 0) upsert the source row (value*2, 'kept', the
    merge instant); unmatched target keys with current value < 100 are
    deleted; the REST are updated in place (value+1000, 'aged') at the
    STATEMENT instant — first match wins per unmatched key, one atomic
    commit (upsert delta + tombstone delta in one snapshot)."""
    from bazof_spark.sources.events import events_merge_bsupd_lakehouse

    lh = events_merge_bsupd_lakehouse(spark, sf_dir)
    return lh.scan("events_merge_bsupd").select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def asof_scan_event_time(spark, sf_dir):
    """Op: as-of merge-dedup at an event-time instant."""
    return _scan_events(spark, sf_dir, as_of=ASOF_TS).select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def asof_projection(spark, sf_dir):
    """Op: projection pushdown through the scan (schema.rs:148-171
    output ordering; Catalyst prunes the parquet read)."""
    df = _scan_events(spark, sf_dir, as_of=ASOF_TS, columns=["key", "value"])
    return df.select("key", "value")


def zonemap_key_lookup(spark, sf_dir):
    """Op: file-level key zone maps (metadata.KeyRange + writer
    key_min/key_max — our scale extension over the reference's
    temporal-only pruning, crates/azof/src/metadata.rs:47-86). The
    key-clustered events table has 8 deltas split by contiguous key
    range; this selective lookup reads only the overlapping files
    (tests/test_zonemap.py pins the pruned file count) and merges
    identically to the unpruned scan."""
    lh = events_key_clustered_lakehouse(spark, sf_dir)
    df = lh.scan(KEYED_TABLE_NAME, key_range=("000003", "000007"))
    return df.select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
    )


def keyset_point_lookup(spark, sf_dir):
    """Op: exact-key point lookup through the metadata stats
    (metadata.KeyRange.of_keys → per-file key blooms + bounds — our
    scale extension over the reference's temporal-only pruning,
    crates/azof/src/metadata.rs:47-86). On events_versioned the deltas
    are TIME-split, so every file's [key_min, key_max] spans the whole
    key space and range pruning alone is moot — exactly the layout the
    commit-time bloom exists for (tests/test_bloom.py pins the pruned
    file counts on a controlled scattered layout). The scan also
    row-filters `key IN (...)` so parquet row-group stats prune within
    admitted files."""
    lh = events_lakehouse(spark, sf_dir)
    df = lh.scan("events_versioned", keys=["3", "7", "11"])
    return df.select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
        "props",
    )


def time_travel_sql(spark, sf_dir):
    """Op: SQL time-travel rewrite + full relational surface
    (parse.rs:17-118 + DataFusion-equivalent Spark SQL)."""
    lh = events_lakehouse(spark, sf_dir)
    return lh.sql(
        f"""
        SELECT key, value, event_type
          FROM events_versioned AT ('{ASOF_TS}')
         WHERE event_type IN ('click', 'view')
         ORDER BY value DESC, key
         LIMIT 20
        """
    )


def asof_self_join_sql(spark, sf_dir):
    """Op: self-join of two as-of instants (distinct versioned views,
    parse.rs:71-75)."""
    lh = events_lakehouse(spark, sf_dir)
    return lh.sql(
        f"""
        SELECT a.key,
               a.value AS value_early,
               b.value AS value_late
          FROM events_versioned AT ('{ASOF_TS_EARLY}') a
          JOIN events_versioned AT ('{ASOF_TS_LATE}') b ON a.key = b.key
         WHERE b.value > a.value
        """
    )


def time_travel_changes(spark, sf_dir):
    """Change-data-feed between two as-of instants: every key whose
    winning version differs between t1 and t2, classified as
    insert (absent at t1) or update (newer winning event_time at t2).
    The reference leaves a change/streaming read on its roadmap
    (README.md:150-160); with the as-of scan this is just a left join
    of two scans — deletes can't occur in an upsert-only log, so
    late ⊇ early. Scale: both sides are the same pruned scan, joined
    on the table key; AQE picks broadcast when one as-of slice is
    small."""
    lh = events_lakehouse(spark, sf_dir)
    ch = lh.scan_changes(
        "events_versioned",
        since=ASOF_TS_EARLY,
        until=ASOF_TS_LATE,
        columns=["key", "value"],
    )
    return ch.select(
        "key",
        "change_type",
        "value_early",
        "value_late",
        F.unix_micros("event_time_late").alias("ts_late_us"),
    )


def time_travel_changes_sql(spark, sf_dir):
    """Change-data-feed through the SQL surface (sql.py CHANGES(...)
    rewrite → a registered changes view) rather than the Python
    `scan_changes` API, with a projection and an UPDATE-ONLY window:
    only keys that existed at t1 and whose winning version differs at
    t2. Exercises the whole rewrite → view-registration → diff-join
    chain plus column pruning on the changes relation; the driver's r2
    `time_travel_changes` row covered only the Python API with inserts
    included."""
    lh = events_lakehouse(spark, sf_dir)
    return lh.sql(
        f"""
        SELECT key, value_early, value_late, event_type_late
          FROM CHANGES('events_versioned',
                       '{ASOF_TS_EARLY}', '{ASOF_TS_LATE}')
         WHERE change_type = 'update'
         ORDER BY key
        """
    )


def asof_join_events(spark, sf_dir):
    """Stream-style point-in-time join (operators/asof.py): for each
    'click' event, the latest 'purchase' by the same user at or before
    it. Oracle: DuckDB's native ASOF JOIN. Build side deduped to one row
    per (user, ts) so ties are deterministic in both engines."""
    from bazof_spark.operators.asof import asof_join

    ev = _t("events")(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .select("user_id", F.col("ts").alias("purchase_ts"), "purchase_value")
    )
    joined = asof_join(
        clicks, purchases, key="user_id", probe_ts="click_ts",
        build_ts="purchase_ts", how="inner",
    )
    return joined.select(
        "click_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
    )


_STREAM_SEQ = iter(range(1_000_000))


def streaming_latest_rows(spark, sf_dir):
    """The custom stateful streaming operator
    (streaming/stream.py:latest_rows_stream, applyInPandasWithState)
    driven over the events_versioned delta files with
    trigger(availableNow) into a memory sink — then reduced to the
    final winner per key. Checked against the SAME DuckDB oracle as the
    batch asof_scan_current: streaming and batch agree on latest-row-
    per-key. (Update mode emits a winner per key per micro-batch that
    changed it; the final state is the max-event_time emit.)"""
    from bazof_spark.streaming.stream import (
        latest_rows_stream,
        read_table_stream,
    )

    lh = events_lakehouse(spark, sf_dir)
    table = lh.table("events_versioned")
    schema = table.get_current_snapshot().schema
    stream = read_table_stream(spark, table)
    out = latest_rows_stream(stream, schema, watermark="3650 days")
    name = f"stream_latest_{next(_STREAM_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(name)
    value_cols = [c.name for c in schema.columns]
    payload = F.struct(
        F.col("event_time").alias("event_time"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    final = emitted.groupBy("key").agg(
        F.max_by(payload, F.col("event_time")).alias("_w")
    )
    return final.select(
        "key",
        F.unix_micros(F.col("_w.event_time")).alias("event_time_us"),
        *[F.col(f"_w.{c}").alias(c) for c in value_cols],
    )


def streaming_sessions(spark, sf_dir):
    """Custom stateful streaming sessionization
    (streaming/stream.py:session_stream, applyInPandasWithState with
    one open session per key as state) over the events_versioned delta
    files — checked against the batch lag/gap-cumsum sessionization
    oracle: streaming and batch agree on every (user, session) tuple.
    Update-mode emissions reduce to max-end/max-count per session id."""
    from bazof_spark.streaming.stream import read_table_stream, session_stream

    lh = events_lakehouse(spark, sf_dir)
    table = lh.table("events_versioned")
    stream = read_table_stream(spark, table, max_files_per_trigger=1)
    out = session_stream(stream, gap_seconds=1800, watermark="3650 days")
    name = f"stream_sessions_{next(_STREAM_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(name)
    return (
        emitted.groupBy("key", "session_start_us")
        .agg(
            F.max("session_end_us").alias("session_end_us"),
            F.max("n_events").alias("n_events"),
        )
        .select("key", "session_start_us", "session_end_us", "n_events")
    )


def streaming_window_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation as a STREAM (SURVEY
    §2.B's streaming row): 6-hour event-time windows over the
    events_versioned delta files, per-(window, key) counts in update
    mode via availableNow, then the final state reduced batch-side to
    per-window distinct keys + event counts. Exact (no approx sketch),
    so the DuckDB oracle recomputes it from the same raw rows — proving
    the streaming pipeline converges to the batch answer."""
    from bazof_spark.streaming.stream import read_table_stream

    lh = events_lakehouse(spark, sf_dir)
    table = lh.table("events_versioned")
    stream = read_table_stream(spark, table)
    win = (
        stream.withWatermark("event_time", "3650 days")
        .groupBy(
            F.window(F.col("event_time"), "6 hours").alias("_w"),
            F.col("key"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(F.col("_w.start").alias("window_start"), "key", "_n")
    )
    name = f"stream_win_{next(_STREAM_SEQ)}"
    q = (
        win.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(name)
    # update mode re-emits a (window, key) row whenever its count grows;
    # the final state is the max emit per (window, key)
    final = emitted.groupBy("window_start", "key").agg(
        F.max("_n").alias("_n")
    )
    return (
        final.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("distinct_keys"),
            F.sum("_n").alias("n_events"),
        )
        .select(
            F.unix_micros(F.col("window_start")).alias("window_start_us"),
            "distinct_keys",
            "n_events",
        )
    )


def streaming_dedup(spark, sf_dir):
    """Streaming stateful exact-dedup (streaming/stream.distinct_stream,
    dropDuplicatesWithinWatermark — engine-managed seen-keys state that
    EXPIRES with the watermark): each distinct (key, event_type) pair is
    emitted once across all micro-batches of the events_versioned delta
    stream. Projected to the key tuple (which physical first-occurrence
    row carried it is scheduling-dependent; the set is not), so the
    DuckDB oracle is a plain SELECT DISTINCT — streaming state
    management must converge to batch set semantics exactly."""
    from bazof_spark.streaming.stream import distinct_stream, read_table_stream

    lh = events_lakehouse(spark, sf_dir)
    table = lh.table("events_versioned")
    stream = read_table_stream(spark, table)
    out = distinct_stream(
        stream.select("key", "event_type", "event_time"),
        ["key", "event_type"],
        watermark="3650 days",
    ).select("key", "event_type")
    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def streaming_sketch_kmv(spark, sf_dir):
    """Streaming KMV distinct sketch: the per-event_type k-minimum
    state accumulates ACROSS micro-batches of the events_versioned
    delta stream (complete-mode aggregation — the sink holds the final
    state), and because min-of-mins is order-, duplicate- and
    batch-boundary-insensitive, the streaming estimate is BIT-IDENTICAL
    to the batch sketch over the same rows — which is exactly what the
    DuckDB oracle computes. The streaming twin of sketch_kmv_mergeable:
    micro-batches are just another regrouping the sketch state is
    already closed under."""
    from bazof_spark.functions.sketch import kmv_estimate, kmv_sketch
    from bazof_spark.streaming.stream import read_table_stream

    lh = events_lakehouse(spark, sf_dir)
    stream = read_table_stream(spark, lh.table("events_versioned"))
    sk = kmv_sketch(
        stream.select("event_type", "key"), ["event_type"], "key", k=32
    )
    name = f"stream_kmv_{next(_STREAM_SEQ)}"
    q = (
        sk.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return kmv_estimate(spark.table(name), ["event_type"], k=32)


def streaming_native_read(spark, sf_dir):
    """The NATIVE streaming source (`readStream.format("bazof")`,
    datasource.BazofStreamReader): offsets are snapshot versions, so a
    drain from startingVersion=0 with trigger(availableNow) replays
    exactly the commit-referenced files of every version — for this
    upsert log, every raw event exactly once. The DuckDB oracle reads
    the raw event set directly, proving the version-offset replay loses
    and duplicates nothing. (The other streaming_* queries drive the
    file-stream path; this is the Data Source V2 one.)"""
    import tempfile as _tf

    from bazof_spark.datasource import BazofDataSource

    lh = events_lakehouse(spark, sf_dir)
    try:
        spark.dataSource.register(BazofDataSource)
    except Exception:
        pass  # already registered in this session
    name = f"stream_native_{next(_STREAM_SEQ)}"
    q = (
        spark.readStream.format("bazof")
        .option("path", lh.root)
        .option("table", "events_versioned")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", _tf.mkdtemp(prefix="bazof_cp_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "key",
        F.unix_micros("event_time").alias("event_time_us"),
        "event_id",
        "event_type",
        "value",
    )


_ASOF_ORACLES = {
    "asof_scan_current": _events_oracle_cte(),
    # user-level tombstone delete: dropping every row of the deleted
    # users before the latest-per-user window is set-identical to
    # hiding their merge winners
    "delete_tombstone_scan": _events_oracle_cte("user_id % 7 <> 0"),
    # merge-delete = latest-per-user, minus keys the source matched
    # (user_id % 5 = 0) whose CURRENT winner satisfies the WHEN MATCHED
    # AND predicate (value < 100) — the pred filters winners, so it
    # applies AFTER the latest-per-user window, unlike the user-level
    # tombstone above
    # coalesce(…, false): the engine's WHEN MATCHED AND predicate keeps
    # a NULL-valued winner undeleted (pred evaluates false); bare SQL
    # NOT(NULL AND …) would instead filter the row out of the oracle
    "merge_delete_scan": f"""
        SELECT * FROM ({_events_oracle_cte()})
        WHERE NOT (CAST(key AS BIGINT) % 5 = 0
                   AND coalesce(value < 100.0, false))
    """,
    # multi-clause MERGE = latest-per-user, clause list applied with
    # first-match-wins over the CURRENT row (null-safe like the engine's
    # coalesce(pred, false)): %3-matched keys with value<50 drop,
    # value<200 become the source row (value*10, 'merged', the merge
    # instant), the rest stay; 3 synthetic unmatched source keys insert
    "merge_multi_clause_scan": f"""
        WITH cur AS ({_events_oracle_cte()})
        SELECT key,
               CASE WHEN CAST(key AS BIGINT) % 3 = 0
                         AND coalesce(value < 200.0, false)
                    THEN epoch_us(TIMESTAMP '2024-03-01 00:00:00')
                    ELSE event_time_us END AS event_time_us,
               event_id,
               CASE WHEN CAST(key AS BIGINT) % 3 = 0
                         AND coalesce(value < 200.0, false)
                    THEN 'merged' ELSE event_type END AS event_type,
               CASE WHEN CAST(key AS BIGINT) % 3 = 0
                         AND coalesce(value < 200.0, false)
                    THEN value * 10 ELSE value END AS value,
               props
          FROM cur
         WHERE NOT (CAST(key AS BIGINT) % 3 = 0
                    AND coalesce(value < 50.0, false))
        UNION ALL
        SELECT CAST(900001 + r.range AS VARCHAR) AS key,
               epoch_us(TIMESTAMP '2024-03-01 00:00:00') AS event_time_us,
               CAST(-(1 + r.range) AS BIGINT) AS event_id,
               'seed' AS event_type,
               CAST(1 + r.range AS DOUBLE) AS value,
               CAST(NULL AS VARCHAR) AS props
          FROM range(3) r
    """,
    # NOT MATCHED BY SOURCE = latest-per-user where %4-matched keys
    # become the source row and unmatched keys survive only when the
    # delete predicate fails null-safely
    "merge_by_source_scan": f"""
        WITH cur AS ({_events_oracle_cte()})
        SELECT key,
               CASE WHEN CAST(key AS BIGINT) % 4 = 0
                    THEN epoch_us(TIMESTAMP '2024-03-01 00:00:00')
                    ELSE event_time_us END AS event_time_us,
               event_id,
               CASE WHEN CAST(key AS BIGINT) % 4 = 0
                    THEN 'kept' ELSE event_type END AS event_type,
               CASE WHEN CAST(key AS BIGINT) % 4 = 0
                    THEN value * 2 ELSE value END AS value,
               props
          FROM cur
         WHERE CAST(key AS BIGINT) % 4 = 0
               OR NOT coalesce(value < 150.0, false)
    """,
    # BY SOURCE clause list = latest-per-user where %5-matched keys
    # become the source row; unmatched keys: value < 100 deleted
    # (null-safe), the rest updated in place at the statement instant
    "merge_by_source_update_scan": f"""
        WITH cur AS ({_events_oracle_cte()})
        SELECT key,
               CASE WHEN CAST(key AS BIGINT) % 5 = 0
                    THEN epoch_us(TIMESTAMP '2024-03-01 00:00:00')
                    ELSE epoch_us(TIMESTAMP '2024-04-01 00:00:00')
                    END AS event_time_us,
               event_id,
               CASE WHEN CAST(key AS BIGINT) % 5 = 0
                    THEN 'kept' ELSE 'aged' END AS event_type,
               CASE WHEN CAST(key AS BIGINT) % 5 = 0
                    THEN value * 2 ELSE value + 1000.0 END AS value,
               props
          FROM cur
         WHERE CAST(key AS BIGINT) % 5 = 0
               OR NOT coalesce(value < 100.0, false)
    """,
    # UPDATE = latest-per-user, then the SET expressions applied to the
    # rows whose CURRENT event_type matched the predicate (their
    # event_time becomes the update instant — the upserted version)
    "update_set_scan": f"""
        SELECT key,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(TIMESTAMP '2024-03-01 00:00:00')
                    ELSE event_time_us END AS event_time_us,
               event_id,
               CASE WHEN event_type = 'click'
                    THEN 'adj_click' ELSE event_type END AS event_type,
               CASE WHEN event_type = 'click'
                    THEN value * 2 ELSE value END AS value,
               props
        FROM ({_events_oracle_cte()})
    """,
    # latest event per user over the zone-map-pruned key window; the
    # lpad key spelling matches the key-clustered materialization
    "zonemap_key_lookup": """
        SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS key,
               epoch_us(CAST(ts AS TIMESTAMP)) AS event_time_us,
               event_id, event_type, value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC
            ) AS _rn
            FROM events WHERE user_id BETWEEN 3 AND 7
        ) WHERE _rn = 1
    """,
    # latest event per user restricted to the looked-up key set (the
    # scan's keys= path: bloom/bounds admit files, a row filter keeps
    # only the requested keys, the merge is unchanged)
    "keyset_point_lookup": _events_oracle_cte("user_id IN (3, 7, 11)"),
    "streaming_latest_rows": _events_oracle_cte(),
    # version-offset replay = the raw upsert log, each event once
    "streaming_native_read": """
        SELECT CAST(user_id AS VARCHAR) AS key,
               epoch_us(CAST(ts AS TIMESTAMP)) AS event_time_us,
               event_id, event_type, value
        FROM events
    """,
    # set semantics: stateful streaming dedup must equal batch DISTINCT
    "streaming_dedup": """
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS key, event_type
        FROM events
    """,
    # streaming KMV sketch: set-insensitive state, so the final
    # streaming estimate equals the batch sketch over the raw events —
    # the oracle text is the standard KMV estimator (functions/sketch.
    # kmv_oracle_sql, appended below after the import is available)
    # 6h tumbling windows, epoch-aligned exactly like Spark's window():
    # floor(epoch_us / 6h) * 6h
    "streaming_window_counts": """
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
                   * 21600000000 AS window_start_us,
               COUNT(DISTINCT user_id) AS distinct_keys,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    """,
    "streaming_sessions": """
        WITH o AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   CAST(ts AS TIMESTAMP) AS ts,
                   lag(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id ORDER BY ts
                   ) AS prev_ts
            FROM events
        ),
        g AS (
            SELECT key, ts,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS brk
            FROM o
        ),
        s AS (
            SELECT key, ts,
                   SUM(brk) OVER (
                       PARTITION BY key ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM g
        )
        SELECT key,
               epoch_us(MIN(ts)) AS session_start_us,
               epoch_us(MAX(ts)) AS session_end_us,
               COUNT(*) AS n_events
        FROM s GROUP BY key, sid
    """,
    "asof_scan_event_time": _events_oracle_cte(
        f"ts <= TIMESTAMP '2024-01-15 00:00:00'"
    ),
    "asof_projection": f"""
        SELECT key, value FROM ({_events_oracle_cte(
            "ts <= TIMESTAMP '2024-01-15 00:00:00'")})
    """,
    "time_travel_sql": f"""
        SELECT key, value, event_type
        FROM ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-15 00:00:00'")})
        WHERE event_type IN ('click', 'view')
        ORDER BY value DESC, key LIMIT 20
    """,
    "asof_self_join_sql": f"""
        WITH early AS ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-10 00:00:00'")}),
             late  AS ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-25 00:00:00'")})
        SELECT a.key, a.value AS value_early, b.value AS value_late
          FROM early a JOIN late b ON a.key = b.key
         WHERE b.value > a.value
    """,
    "time_travel_changes": f"""
        WITH early AS ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-10 00:00:00'")}),
             late  AS ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-25 00:00:00'")})
        SELECT l.key,
               CASE WHEN e.key IS NULL THEN 'insert' ELSE 'update' END
                   AS change_type,
               e.value AS value_early,
               l.value AS value_late,
               l.event_time_us AS ts_late_us
          FROM late l LEFT JOIN early e ON l.key = e.key
         WHERE e.key IS NULL OR l.event_time_us <> e.event_time_us
    """,
    "time_travel_changes_sql": f"""
        WITH early AS ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-10 00:00:00'")}),
             late  AS ({_events_oracle_cte("ts <= TIMESTAMP '2024-01-25 00:00:00'")})
        SELECT l.key,
               e.value AS value_early,
               l.value AS value_late,
               l.event_type AS event_type_late
          FROM late l JOIN early e ON l.key = e.key
         WHERE l.event_time_us <> e.event_time_us
            OR l.value       IS DISTINCT FROM e.value
            OR l.event_type  IS DISTINCT FROM e.event_type
            OR l.event_id    IS DISTINCT FROM e.event_id
            OR l.props       IS DISTINCT FROM e.props
         ORDER BY l.key
    """,
    "asof_join_events": """
        WITH clicks AS (
            SELECT event_id AS click_id, user_id,
                   CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
                   MAX(value) AS purchase_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, CAST(ts AS TIMESTAMP)
        )
        SELECT click_id, c.user_id,
               epoch_us(click_ts) AS click_ts_us,
               epoch_us(purchase_ts) AS purchase_ts_us,
               purchase_value
        FROM clicks c ASOF JOIN purchases p
          ON c.user_id = p.user_id AND c.click_ts >= p.purchase_ts
    """,
}

from bazof_spark.functions.sketch import kmv_oracle_sql as _kmv_oracle_sql  # noqa: E402

_ASOF_ORACLES["streaming_sketch_kmv"] = _kmv_oracle_sql(
    "(SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events)",
    ["event_type"],
    "u",
    k=32,
)


# ---------------------------------------------------------------------------
# Relational surface (SURVEY §2.B — provided by Spark SQL / DataFrame API)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan+filter+groupBy+multi-agg. Decimal-exact sums
    cast to double for cross-engine bit-reproducibility."""
    li = _t("lineitem")(spark, sf_dir)
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    charge = disc_price * (F.lit(1).cast("decimal(4,2)") + _dec("l_tax", 4, 2))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    """Join 3 tables + agg + deterministic top-10."""
    cust = _t("customer")(spark, sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t("orders")(spark, sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-06-01")
    )
    li = _t("lineitem")(spark, sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-06-01")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark, sf_dir):
    """6-way join + agg, TPC-H Q5 shape (supplier/customer co-nation)."""
    region = _t("region")(spark, sf_dir).filter(F.col("r_name") == "ASIA")
    nation = _t("nation")(spark, sf_dir)
    cust = _t("customer")(spark, sf_dir)
    orders = _t("orders")(spark, sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t("lineitem")(spark, sf_dir)
    supp = _t("supplier")(spark, sf_dir)
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
    )


def q6_revenue_change(spark, sf_dir):
    """Filter + single aggregate (predicate pushdown showcase)."""
    li = _t("lineitem")(spark, sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2))
            .cast("double")
            .alias("revenue")
        )
    )


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (7-way join, adapted: no partsupp in this
    dataset): ASIA-region suppliers' share of MEDIUM-part revenue per
    order year. Catalyst broadcast-joins every dimension; lineitem is
    the only large side."""
    part = _t("part")(spark, sf_dir).filter(F.col("p_type").contains("MEDIUM"))
    supplier = _t("supplier")(spark, sf_dir)
    nation = _t("nation")(spark, sf_dir)
    region = _t("region")(spark, sf_dir).filter(F.col("r_name") == "ASIA")
    li = _t("lineitem")(spark, sf_dir)
    orders = _t("orders")(spark, sf_dir)
    asia_nations = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2)
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            disc_price.alias("_vol"),
            F.col("s_nationkey"),
        )
    )
    tagged = joined.join(
        F.broadcast(asia_nations),
        joined.s_nationkey == F.col("n_nationkey"),
        "left",
    ).select(
        "o_year",
        "_vol",
        F.when(F.col("n_nationkey").isNotNull(), F.col("_vol"))
        .otherwise(F.lit(0).cast("decimal(22,4)"))
        .alias("_asia_vol"),
    )
    return tagged.groupBy("o_year").agg(
        (
            F.sum("_asia_vol").cast("double")
            / F.sum("_vol").cast("double")
        ).alias("mkt_share")
    )


def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: CASE inside an aggregate; decimal-exact sums so
    the final double division is bit-reproducible."""
    li = _t("lineitem")(spark, sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = _t("part")(spark, sf_dir)
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2)
    )
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        disc_price.alias("_rev"),
        F.when(F.col("p_type").startswith("PROMO"), disc_price)
        .otherwise(F.lit(0).cast("decimal(22,4)"))
        .alias("_promo_rev"),
    )
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum("_promo_rev").cast("double")
            / F.sum("_rev").cast("double")
        ).alias("promo_revenue_pct")
    )


def agg_rollup_lineitem(spark, sf_dir):
    """ROLLUP semantics computed from partials
    (operators/agg.rollup_from_partials): the fact table is scanned
    and shuffled ONCE into the finest aggregate; native rollup then
    Expands only that handful of base rows — vs built-in rollup on the
    fact table, which Expands every input row once per grouping set
    (3× the map-side rows here). Single plan, no cache. Decimal sums
    make the re-aggregation exact (sums of sums == sum)."""
    from bazof_spark.operators.agg import rollup_from_partials

    li = _t("lineitem")(spark, sf_dir)
    out = rollup_from_partials(
        li,
        keys=["l_returnflag", "l_linestatus"],
        measures={
            "_q": (F.sum(_dec("l_quantity")), "sum"),
            "n_rows": (F.count(F.lit(1)), "sum"),
        },
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_q").cast("double").alias("sum_qty"),
        "n_rows",
    )


def q4_semi_join_priority(spark, sf_dir):
    """TPC-H Q4 shape (adapted: no l_commitdate in this dataset): orders
    in a date range having at least one RETURNED lineitem — a LEFT SEMI
    join (EXISTS), which shuffles only the join keys of the build side."""
    orders = _t("orders")(spark, sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    returned = _t("lineitem")(spark, sf_dir).filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over an aggregated subquery, then join
    back to orders+customer; deterministic top-20. The HAVING threshold
    uses a decimal-exact sum so both engines select identical orders."""
    li = _t("lineitem")(spark, sf_dir)
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > F.lit(150).cast("decimal(18,2)"))
    )
    orders = _t("orders")(spark, sf_dir)
    cust = _t("customer")(spark, sf_dir)
    return (
        big_orders.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice"),
            F.col("_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def q22_anti_join_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape (adapted: nationkey for the phone prefix):
    above-average-balance customers with NO orders — scalar subquery
    (broadcast single-row crossJoin, not a driver collect) + LEFT ANTI
    join, grouped by nation. Threshold = decimal-exact sum cast to
    double / count: bit-identical across engines."""
    cust = _t("customer")(spark, sf_dir)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "_avg"
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg")
    )
    orders = _t("orders")(spark, sf_dir)
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


def filter_in_topk(spark, sf_dir):
    """The reference's demo query shape: WHERE ... IN + ORDER BY DESC +
    LIMIT (crates/azof-datafusion/examples/query_example.rs:21-28)."""
    part = _t("part")(spark, sf_dir)
    return (
        part.filter(F.col("p_type").isin("SMALL", "ECONOMY"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .limit(5)
    )


def window_customer_order_rank(spark, sf_dir):
    """Window function: top-2 orders per customer by totalprice."""
    orders = _t("orders")(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def set_ops_active_customers(spark, sf_dir):
    """INTERSECT + EXCEPT over key sets."""
    orders = _t("orders")(spark, sf_dir)
    cust = _t("customer")(spark, sf_dir)
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    positive = cust.filter(F.col("c_acctbal") > 1000).select(
        F.col("c_custkey").alias("custkey")
    )
    big = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    return open_orders.intersect(positive).subtract(big)


def scalar_functions_showcase(spark, sf_dir):
    """String/date/math scalar functions (DataFusion built-ins ↔ Spark
    built-ins, SURVEY §2.B)."""
    orders = _t("orders")(spark, sf_dir)
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.length("o_orderstatus").alias("status_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        # decimal-exact: double*0.1 rounds differently across engines on
        # half-cent boundaries; decimal HALF_UP agrees everywhere
        F.round(_dec("o_totalprice") * F.lit(0.1).cast("decimal(2,1)"), 2)
        .cast("double")
        .alias("tithe"),
        F.abs(F.col("o_custkey") - 100).alias("key_dist"),
    )


def agg_nation_customer_stats(spark, sf_dir):
    """Broadcast dim join + multi-agg."""
    cust = _t("customer")(spark, sf_dir)
    nation = _t("nation")(spark, sf_dir)
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "avg_acctbal"
            ),
            F.min("c_acctbal").alias("min_acctbal"),
            F.max("c_acctbal").alias("max_acctbal"),
        )
    )


def semi_structured_json_array(spark, sf_dir):
    """JSON + array functions over events.props (§2.B 'array/map/JSON'
    row): extract a JSON field, build/fold/reshape arrays JVM-side.
    Map-only over a single input split → rebalance so the JSON parse +
    array folds don't serialize on one core."""
    ev = rebalance_if_undersplit(spark, _t("events")(spark, sf_dir))
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    arr = F.sequence(F.lit(1), (k % 4) + 1)
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.size(arr).alias("arr_len"),
        F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "arr_sum"
        ),
        F.array_max(arr).alias("arr_max"),
        F.concat_ws(",", F.transform(arr, lambda x: x.cast("string"))).alias(
            "arr_csv"
        ),
    )


def events_tumbling_window(spark, sf_dir):
    """Event-time tumbling-window aggregation (the batch twin of the
    Structured Streaming path in bazof_spark/streaming)."""
    ev = _t("events")(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_RELATIONAL_ORACLES = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
    "q6_revenue_change": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "filter_in_topk": """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_type IN ('SMALL', 'ECONOMY')
        ORDER BY p_retailprice DESC, p_partkey
        LIMIT 5
    """,
    "window_customer_order_rank": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 2
    """,
    "set_ops_active_customers": """
        (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000)
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
    """,
    "scalar_functions_showcase": """
        SELECT o_orderkey,
               upper(substring(o_orderpriority, 1, 3)) AS prio3,
               length(o_orderstatus) AS status_len,
               concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
               year(o_orderdate) AS o_year,
               month(o_orderdate) AS o_month,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS tithe,
               abs(o_custkey - 100) AS key_dist
        FROM orders
    """,
    "agg_nation_customer_stats": """
        SELECT n_name,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal,
               MIN(c_acctbal) AS min_acctbal,
               MAX(c_acctbal) AS max_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q8_market_share": """
        WITH asia AS (
            SELECT n_nationkey FROM nation
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        ),
        vol AS (
            SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS v,
                   s_nationkey
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_type LIKE '%MEDIUM%'
        )
        SELECT o_year,
               CAST(SUM(CASE WHEN s_nationkey IN (SELECT n_nationkey FROM asia)
                             THEN v ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE)
                   / CAST(SUM(v) AS DOUBLE) AS mkt_share
        FROM vol GROUP BY o_year
    """,
    "q14_promo_effect": """
        SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                   ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-01'
    """,
    "agg_rollup_lineitem": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q4_semi_join_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1997-01-01'
          AND o_orderdate < DATE '1998-01-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
          )
        GROUP BY o_orderpriority
    """,
    "q18_large_volume_customer": """
        WITH big AS (
            SELECT l_orderkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(150 AS DECIMAL(18,2))
        )
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_totalprice,
               CAST(qty AS DOUBLE) AS total_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY total_qty DESC, o_orderkey
        LIMIT 20
    """,
    "q22_anti_join_idle_customers": """
        WITH avg_bal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*) AS a
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS totacctbal
        FROM customer, avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
          )
        GROUP BY c_nationkey
    """,
    "semi_structured_json_array": """
        WITH e AS (
            SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_val
            FROM events
        ),
        a AS (
            SELECT event_id, k_val,
                   range(1, (k_val % 4) + 2) AS arr
            FROM e
        )
        SELECT event_id, k_val,
               len(arr) AS arr_len,
               CAST(list_sum(arr) AS BIGINT) AS arr_sum,
               list_max(arr) AS arr_max,
               array_to_string(arr, ',') AS arr_csv
        FROM a
    """,
    "events_tumbling_window": """
        SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS window_start_us,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
}


# ---------------------------------------------------------------------------
# Training-data pipeline operators (north star: dedup / similarity /
# text analysis / multimodal over documents + embeddings)
# ---------------------------------------------------------------------------

# SQL fragments mirroring bazof_spark.functions.text exactly
_WORDS = "string_split_regex(trim(text), '\\s+')"


def _shingles_sql(k: int) -> str:
    return (
        f"CASE WHEN len({_WORDS}) >= {k} THEN "
        f"list_transform(range(1, len({_WORDS}) - {k} + 2), "
        f"i -> array_to_string({_WORDS}[i:i+{k - 1}], ' ')) "
        f"ELSE [array_to_string({_WORDS}, ' ')] END"
    )


def dedup_exact_q(spark, sf_dir):
    return exact_dedup(_t("documents")(spark, sf_dir))


def dedup_source_priority_q(spark, sf_dir):
    """Exact dedup with SOURCE-priority winner selection
    (operators/dedup.exact_dedup_source_priority) — the provenance-tier
    rule real pipelines apply when duplicates span sources (curated
    beats crawl regardless of id). The driver corpus has no exact
    duplicates, so the query synthesizes a second provenance tier: a
    re-keyed clone of every document, 'curated' for doc_id % 3 == 0
    (must WIN despite the higher id) and 'webclone' otherwise (unlisted
    → ties with the unlisted original → lowest id, the original, wins).
    Exercises listed-beats-unlisted, unlisted ties, and the listed
    'src5' originals beating their clones."""
    docs = _t("documents")(spark, sf_dir).select("doc_id", "text", "source")
    clones = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit("curated"))
        .otherwise(F.lit("webclone"))
        .alias("source"),
    )
    from bazof_spark.operators.dedup import exact_dedup_source_priority

    return exact_dedup_source_priority(
        docs.unionByName(clones), priority=["curated", "src5"]
    )


def dedup_ngram_jaccard_q(spark, sf_dir):
    return ngram_jaccard_pairs(
        _docs_par(spark, sf_dir), k=3, threshold=0.5
    ).withColumn("jaccard", F.round("jaccard", 6))


def dedup_minhash_lsh_q(spark, sf_dir):
    # no up-front rebalance: the exact-dup collapse's groupBy(digest)
    # shuffle redistributes rows before the CPU-heavy signature fold,
    # so the fold parallelizes across shuffle partitions for free
    return minhash_lsh_pairs(
        _t("documents")(spark, sf_dir),
        num_hashes=32,
        bands=8,
        k=3,
        threshold=0.5,
    )


def dedup_simhash_q(spark, sf_dir):
    # collapse shuffle fans out the fingerprint fold (see above)
    return simhash_pairs(_t("documents")(spark, sf_dir), max_hamming=3, k=3)


_BM25_TERMS = ["merge", "scan", "hash"]


def bm25_search_q(spark, sf_dir):
    """Lexical ranked retrieval (operators/retrieval.bm25_rank): Okapi
    BM25 top-10 for a fixed bag-of-words query, k1=1.2 b=0.75."""
    from bazof_spark.operators.retrieval import bm25_rank

    docs = _docs_par(spark, sf_dir)
    return bm25_rank(docs, _BM25_TERMS, top_k=10)


def corpus_clean_q(spark, sf_dir):
    """The composed cleaning pipeline a training-data run actually
    executes: exact-dedup to one representative per digest + language
    filter + length filter, in one plan. Everything stays JVM-side;
    the only shuffle is the per-digest window."""
    from pyspark.sql.window import Window

    docs = _docs_par(spark, sf_dir)
    tagged = docs.select(
        "doc_id",
        T.language_id(F.col("text")).alias("lang_pred"),
        T.word_count(F.col("text")).cast("long").alias("n_words"),
        F.md5("text").alias("digest"),
    )
    rep = tagged.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("digest"))
    )
    return rep.filter(
        (F.col("doc_id") == F.col("keep_id"))
        & (F.col("lang_pred") == "en")
        & F.col("n_words").between(20, 1000)
    ).select("doc_id", "lang_pred", "n_words")


def sequence_packing_q(spark, sf_dir):
    """Concat-and-chunk packing offsets (operators/packing.py):
    shard-local window cumsum assigns every document its token offset
    and sequence span — the pretraining-prep layout step. Token count
    here = word count (whitespace tokenizer), seq_len 512, 8 shards."""
    from bazof_spark.operators.packing import pack_offsets

    docs = _t("documents")(spark, sf_dir).select(
        "doc_id", T.word_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_offsets(
        docs, "n_tokens", seq_len=512, n_shards=8
    ).select("doc_id", "shard", "n_tokens", "tok_offset", "start_seq", "end_seq")


def dataset_split_q(spark, sf_dir):
    """Deterministic train/val/test assignment by identity hash
    (functions/sampling.py) + per-split corpus stats; the sample column
    proves the independent (salted) bucketing. Map-only except the
    final 3-row aggregate."""
    from bazof_spark.functions.sampling import assign_split, hash_bucket

    docs = _t("documents")(spark, sf_dir)
    tagged = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        assign_split(F.col("doc_id"), train=0.8, val=0.1).alias("split"),
        (hash_bucket(F.col("doc_id"), 1_000_000, salt="sample") < 250_000)
        .cast("int")
        .alias("in_sample"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("in_sample").alias("n_sampled"),
    )


def decontamination_q(spark, sf_dir):
    """Cross-table near-match detection (operators/dedup.
    minhash_lsh_pairs_between): docs with id < 25 stand in for an eval
    set probed against the rest of the corpus — the decontamination
    step of a training-data pipeline. Probe signatures broadcast; the
    corpus side never shuffles."""
    docs = _docs_par(spark, sf_dir)
    probe = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25)
    return minhash_lsh_pairs_between(probe, corpus, threshold=0.5)


def dedup_clusters_q(spark, sf_dir):
    """Near-dup pairs → connected components (one representative per
    cluster): operators/dedup.dedup_clusters over the simhash edges."""
    pairs = simhash_pairs(_t("documents")(spark, sf_dir), max_hamming=3, k=3)
    return dedup_clusters(pairs).withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )


def dedup_end_to_end_q(spark, sf_dir):
    """The COMPLETE dedup pipeline a training run executes, composed
    from the guarded primitives: exact-collapse (exact_groups) →
    near-dup pairs among representatives (simhash, collapse-by-default)
    → connected components → re-expand cluster labels to every exact
    copy with one join on rep_id. Output: every document with its final
    representative and whether it survives dedup (doc == final rep).
    Every stage is linear — exact copies never enter the pair join and
    re-attachment is a join on the (small) clustered-rep set."""
    from bazof_spark.operators.dedup import exact_groups

    docs = _t("documents")(spark, sf_dir)
    groups = exact_groups(docs)  # (doc_id, rep_id) incl. singletons
    pairs = simhash_pairs(docs, max_hamming=3, k=3)
    clusters = dedup_clusters(pairs).select(
        F.col("doc_id").alias("_rep"), F.col("cluster_rep")
    )
    return groups.join(
        clusters, groups["rep_id"] == clusters["_rep"], "left"
    ).select(
        groups["doc_id"],
        F.coalesce("cluster_rep", "rep_id").alias("final_rep"),
        (groups["doc_id"] == F.coalesce("cluster_rep", "rep_id"))
        .cast("int")
        .alias("is_kept"),
    )



def _docs_par(spark, sf_dir):
    """documents rebalanced to cluster parallelism — used ONLY by the
    map-only text/multimodal pipelines, where a single-file scan would
    otherwise serialize all per-row compute onto one core (see
    sources.tables.rebalance_if_undersplit)."""
    return rebalance_if_undersplit(spark, _t("documents")(spark, sf_dir))

def text_stats_q(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.word_count(t).alias("n_words"),
        T.char_count(t).alias("n_chars_computed"),
        F.round(T.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(t), 6).alias("stopword_ratio"),
    )


def text_quality_q(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return docs.select(
        "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("quality")
    )


def text_language_id_q(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return docs.select("doc_id", T.language_id(F.col("text")).alias("lang_pred"))


def doc_fingerprint_q(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return docs.select(
        "doc_id", T.fingerprint(F.col("text"), k=5).alias("fingerprint")
    )


def embedding_cosine_topk_q(spark, sf_dir):
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    return cosine_topk_bruteforce(emb, queries, k=5).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )


def knn_label_vote_q(spark, sf_dir):
    """kNN majority-vote label evaluation — the standard harness for
    judging embedding quality against ground-truth labels: exact cosine
    top-10 per query (self excluded), neighbors vote with their label,
    majority wins (ties → smaller label), compared to the query's own
    label. Plan: the brute-force top-k broadcasts the 50-query slice
    over a map-only corpus scan; the candidate set (50×10 rows) is then
    BROADCAST into the label join, so the corpus-sized relation never
    shuffles — the same discipline at 100 TB, where the corpus scan is
    the only data-sized work."""
    emb = _t("embeddings")(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 50).withColumnRenamed(
        "vec_id", "query_id"
    )
    nn = cosine_topk_bruteforce(emb, q, k=10)
    lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = lab.join(
        F.broadcast(nn.select("query_id", "neighbor_id")), "neighbor_id"
    )
    tally = votes.groupBy("query_id", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    pred = tally.groupBy("query_id").agg(
        F.max_by(
            F.struct(F.col("n_label").alias("l"), F.col("votes").alias("v")),
            F.struct(F.col("votes"), -F.col("n_label")),
        ).alias("_w")
    )
    truth = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        F.col("_w.l").alias("pred_label"),
        F.col("_w.v").alias("votes"),
        "true_label",
        (F.col("_w.l") == F.col("true_label")).cast("int").alias("correct"),
    )


def text_nfc_normalize_q(spark, sf_dir):
    """Unicode NFC normalization over the corpus (functions/text.
    nfc_normalize): each document is augmented with a deterministic
    DECOMPOSED suffix (combining-mark sequences selected and repeated
    by doc_id — the corpus itself is ASCII, so the suffix guarantees
    real composition work), normalized through CPython's unicodedata,
    and reduced to code-point lengths + an md5 of the normalized
    string. The DuckDB oracle builds the identical suffix and runs its
    OWN normalizer (utf8proc's nfc_normalize) — two independent
    implementations of the Unicode standard must agree on every
    composed byte for the hash to match. Map-only Arrow-batched UDF,
    no shuffle."""
    from bazof_spark.functions.text import nfc_normalize

    docs = _docs_par(spark, sf_dir)
    # DECOMPOSED sequences (base + combining mark): e+ACUTE, A+RING,
    # o+DIAERESIS, n+TILDE - NFC composes each to one char
    pieces = F.array(
        F.lit("e\u0301"), F.lit("A\u030A"),
        F.lit("o\u0308"), F.lit("n\u0303"),
    )
    piece = F.element_at(pieces, (F.col("doc_id") % 4 + 1).cast("int"))
    raw = F.concat(
        F.col("text"),
        F.lit(" "),
        F.array_join(
            F.array_repeat(piece, (F.col("doc_id") % 3 + 1).cast("int")),
            "",
        ),
    )
    a = docs.select("doc_id", raw.alias("raw"))
    n = a.select("doc_id", "raw", nfc_normalize(F.col("raw")).alias("nrm"))
    return n.select(
        "doc_id",
        F.length("raw").cast("int").alias("len_raw"),
        F.length("nrm").cast("int").alias("len_nfc"),
        (F.length("raw") > F.length("nrm")).cast("int").alias("changed"),
        F.md5(F.col("nrm").cast("binary")).alias("digest"),
    )


def bpe_tokenize_q(spark, sf_dir):
    """Trained-BPE tokenization over the corpus (operators/bpe.py,
    Sennrich 2016): 50 merge rules learned driver-side from a bounded
    deterministic sample (the 64 lowest doc_ids — vocab induction never
    needs the full corpus), then EVERY document encoded by applying the
    rules in rank order as a chain of 50 built-in ``replace``
    expressions inside whole-stage codegen — the rank-order chain is
    provably equivalent to the greedy lowest-rank loop (a rule cannot
    re-create its own pair, and pairs involving a merged token were
    learned later). Map-only, zero Python in the encode path, zero
    shuffles; output is exact (token counts + md5 of the tokenized
    string), so the DuckDB oracle — the same trainer on the same
    sample, the same replace chain in SQL — checks every rule
    application bit-for-bit."""
    from bazof_spark.operators.bpe import (
        bpe_tokenize_stats,
        train_bpe_merges,
        word_freqs_from_texts,
    )

    docs = _t("documents")(spark, sf_dir)
    sample = [
        r["text"]
        for r in docs.orderBy("doc_id").select("text").limit(64).collect()
    ]
    merges = train_bpe_merges(word_freqs_from_texts(sample), 50)
    return bpe_tokenize_stats(_docs_par(spark, sf_dir), merges)


def embedding_quantize_q(spark, sf_dir):
    """Symmetric int8 vector quantization (operators/similarity.
    quantize_int8): per-vector scale + codes, summarized as exact
    integers so the DuckDB oracle reproduces every value bit-for-bit
    (floor-based rounding + integer floor of scale×1e6)."""
    emb = _t("embeddings")(spark, sf_dir)
    qz = emb.select("vec_id", quantize_int8(F.col("embedding")).alias("_qz"))
    q = F.col("_qz.q")
    return qz.select(
        "vec_id",
        F.floor(F.col("_qz.scale") * 1e6).cast("long").alias("scale_micro"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.array_max(q).cast("int").alias("q_max"),
    )


def embedding_neardup_q(spark, sf_dir):
    emb = _t("embeddings")(spark, sf_dir)
    return cosine_pairs_blocked(emb, "label", threshold=0.3).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )


def embedding_ann_lsh_q(spark, sf_dir):
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    return lsh_ann_topk(emb, queries, k=5).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )


def _recall_vs_exact_join(exact, ann):
    """Fold an exact top-k and an ANN top-k into per-query recall@k.

    One reference to each side (opt round 1, guide §2.4): the previous
    matched/per_q shape referenced ``exact`` twice, and Spark shares no
    subplans across DataFrame references, so every recall query executed
    the brute-force scoring pass TWICE (plan showed two full
    BroadcastNestedLoopJoin+window subtrees; 12 parquet scans, zero
    ReusedExchange). The ann side is pre-aggregated to per-pair
    multiplicity so the left join is provably equivalent to the old
    inner-join count even for degenerate duplicate pairs: for an exact
    row with m matching ann rows the old shape contributed m to
    n_matched and 1 to n_exact — exactly what sum(_m)/count(*) yield.
    """
    hit = ann.groupBy("query_id", "neighbor_id").agg(
        F.count(F.lit(1)).alias("_m")
    )
    # broadcast the ann side (opt round 1): both relations are top-k
    # cuts (≤ |queries|·k rows), but they sit above aggregates whose
    # sizes Spark cannot estimate, so the planner fell back to a
    # SortMergeJoin — 2 exchanges + 2 sorts between two tiny relations
    # (and at 100 TB the exact side would shuffle). The hint pins the
    # provably-bounded side; plan pins assert the join strategy.
    return (
        exact.join(F.broadcast(hit), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("n_matched"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_matched",
            F.round(F.col("n_matched") / F.col("n_exact"), 6).alias("recall"),
        )
    )


def ann_recall_lsh_q(spark, sf_dir):
    """ANN evaluation: recall@5 of the hyperplane-LSH index against the
    exact brute-force top-5, per query — the measurement that decides
    whether an ANN index is usable (the sweep the judge of any index
    runs before trusting it). One plan computes both rankings and joins
    them; the oracle composes the two existing oracle texts as CTEs, so
    the recall numbers are cross-engine-verified end-to-end.

    The measured recall on THIS corpus is low (0-0.2): the synthetic
    embeddings are near-isotropic random vectors, the hardest case for
    hyperplane LSH (no cluster structure, tiny cosine gaps between
    true and false neighbors). That is the honest reading an eval
    harness exists to surface — real text embeddings cluster, and
    recall there is tuned by adding hash tables/raising k before the
    re-rank."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = lsh_ann_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    return _recall_vs_exact_join(exact, ann)


def embedding_ann_sq8_q(spark, sf_dir):
    """Flat SQ8 ANN (operators/similarity.sq8_topk): the corpus rides
    as int8 codes (4× less scan/shuffle volume than float32 at 100 TB),
    queries score against the integer codes directly — the per-row
    quantization scale cancels out of cosine, which is what makes the
    result exactly reproducible in the DuckDB oracle."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    return sq8_topk(emb, queries, k=5).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )


def ann_recall_sq8_q(spark, sf_dir):
    """recall@5 of the flat SQ8 index against the exact float top-5 —
    the measurement that prices SQ8's 4× compression in recall terms
    (on this corpus the int8 grid is fine enough that recall stays
    near 1.0: 64-dim unit-ish vectors quantize to ~7.9 significant
    bits). Same composed-oracle harness as the other recall queries."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = sq8_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    return _recall_vs_exact_join(exact, ann)


def ann_recall_ivf_q(spark, sf_dir):
    """ANN evaluation, second index family: recall@5 of the IVF index
    (fixed-slice quantizer, n_probe=4 of 16 lists) against the exact
    brute-force top-5 — the companion measurement to ann_recall_lsh, so
    the eval harness covers BOTH standard ANN scale paths. Same
    composed-oracle structure: each ranking's existing oracle text is a
    CTE, recall is their join."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = embedding_ann_ivf_q(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact_join(exact, ann)


def embedding_ann_ivf_q(spark, sf_dir):
    """IVF ANN with a deterministic quantizer: centroids are the (unit-
    normalized) embeddings of vec_id 0..15 — a fixed corpus slice instead
    of k-means — so the inverted lists, probes, and therefore the exact
    output are reproducible in the DuckDB oracle. The IVF machinery
    (assignment UDF, list join, re-rank) is identical to the trained
    path; quantizer quality is what k-means would improve."""
    import numpy as np

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    cent_rows = (
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    cent = np.array(
        [np.asarray(r["embedding"], dtype=np.float64) for r in cent_rows]
    )
    return ivf_ann_topk(
        emb, queries, k=5, n_lists=16, n_probe=4, centroids=cent
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def embedding_ann_ivf_trained_q(spark, sf_dir):
    """IVF ANN through the REAL trained quantizer path
    (operators/similarity._train_centroids → _lloyd_kmeans): a bounded
    deterministic sample (the 256 lowest vec_ids, a distributed top-k)
    is k-means-clustered driver-side with a fixed seed, then corpus
    assignment, probing and re-rank run fully distributed. The oracle
    recomputes the identical k-means in numpy on the identical sample
    (read via DuckDB) and embeds the resulting centroids as float64
    literals, so the whole train→assign→probe→re-rank chain is
    cross-engine verified — unlike embedding_ann_ivf, whose quantizer
    is a fixed corpus slice."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    return ivf_ann_topk(
        emb, queries, k=5, n_lists=16, n_probe=4, seed=13, sample_rows=256
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def _media_df(spark, sf_dir):
    """documents re-cast as a media table: the UTF-8 bytes of `text`
    stand in for an opaque blob (this container ships no codecs, so the
    *plumbing* — binary column, typed metadata, Arrow batching — is what
    is exercised for real; see operators/multimodal.py)."""
    return _docs_par(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.col("lang").alias("format"),
            F.length(F.col("text")).cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit(3).cast("int").alias("n_channels"),
        ).alias("meta"),
    )


def multimodal_frame_sample_q(spark, sf_dir):
    """mapInPandas frame sampling over binary blobs; aggregate per media
    so the result is deterministic and oracle-checkable (frame counts
    and byte totals — the chunking math — not the opaque payloads)."""
    frames = sample_video_frames(_media_df(spark, sf_dir), every_n=30)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.length("frame")).alias("sampled_bytes"),
    )


def multimodal_features_q(spark, sf_dir):
    """Arrow-batched feature extraction; feature VALUES are the stubbed
    codec's output, so the oracle checks the verifiable plumbing: byte
    counts and feature dimensionality."""
    feats = extract_image_features(_media_df(spark, sf_dir))
    return feats.select(
        "media_id", "n_bytes", F.size("features").alias("feature_dim")
    )


def multimodal_resize_q(spark, sf_dir):
    """Nearest-neighbor resize over binary blobs (real numpy gather
    kernel; stub decode). Metadata here declares the true byte grid
    (1×len×1) so the grid path runs; the checksum is recomputed from
    first principles by the oracle (integer source-index math +
    byte-value sum — text is ASCII so byte == codepoint)."""
    media = _docs_par(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("raw").alias("format"),
            F.length(F.col("text")).cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit(1).cast("int").alias("n_channels"),
        ).alias("meta"),
    )
    out = resize_images(media, out_w=64, out_h=1)
    return out.select("media_id", "out_w", "out_h", "n_bytes", "checksum")


def multimodal_audio_stats_q(spark, sf_dir):
    """Waveform stats over the blob as raw u8 PCM (operators/multimodal.
    audio_waveform_stats): integer-exact, Arrow-batched, one numpy pass
    per batch."""
    from bazof_spark.operators.multimodal import audio_waveform_stats

    return audio_waveform_stats(_media_df(spark, sf_dir))


def multimodal_wav_decode_q(spark, sf_dir):
    """REAL audio decode end-to-end: synthesize deterministic int16 PCM
    per doc, encode it as an actual RIFF/WAVE file (stdlib `wave`),
    then recover the waveform by hand-parsing the container
    (operators/multimodal.decode_wav) and reduce to integer-exact
    stats. The DuckDB oracle recomputes the stats straight from the
    synthesis formula, so a mismatch anywhere in the encode→decode
    round trip (header layout, chunk walk, sample width, endianness)
    fails the hash. Two map-only Arrow-batched stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import encode_wav, wav_waveform_stats

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 160 + mid % 41
                i = np.arange(n, dtype=np.int64)
                samples = ((mid * 7919 + i * 131) % 4001) - 2000
                blobs.append(encode_wav(samples, sample_rate=8000))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return wav_waveform_stats(media)


def multimodal_flac_decode_q(spark, sf_dir):
    """REAL lossless-compressed audio decode end-to-end (round 9): the
    deterministic int16 PCM synthesis encoded as genuine FLAC streams
    (operators/flaccodec.encode_flac — STREAMINFO with true MD5,
    CRC-8/CRC-16 framed, Rice-coded residuals; even media_ids via
    best-of FIXED predictors, odd ids force LPC subframes so both
    decode paths carry live data), decoded back by the independent
    BitReader walk (decode_flac verifies every CRC and the stream MD5)
    and reduced to integer-exact stats. FLAC is lossless, so the
    DuckDB oracle recomputes the stats straight from the synthesis
    formula — a mistake anywhere in Rice coding, partitioning,
    predictor reconstruction, or framing changes the hash. Two
    map-only Arrow-batched stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.flaccodec import decode_flac, encode_flac

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 160 + mid % 41
                i = np.arange(n, dtype=np.int64)
                samples = ((mid * 7919 + i * 131) % 4001) - 2000
                blobs.append(
                    encode_flac(
                        samples.astype(np.int16), 8000,
                        block_size=64, force_lpc=bool(mid % 2),
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def stats(it):
        for pdf in it:
            out = {
                "media_id": [], "sample_rate": [], "n_frames": [],
                "peak": [], "amp_sum": [], "checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                sr, _, dec = decode_flac(bytes(blob))
                d = dec.astype(np.int64)
                out["media_id"].append(mid)
                out["sample_rate"].append(sr)
                out["n_frames"].append(len(d))
                out["peak"].append(int(np.abs(d).max()))
                out["amp_sum"].append(int(np.abs(d).sum()))
                out["checksum"].append(int(d.sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        stats,
        "media_id long, sample_rate int, n_frames long, "
        "peak int, amp_sum long, checksum long",
    )


def tar_shard_samples_q(spark, sf_dir):
    """REAL WebDataset-shard ingestion end-to-end (round 9): per doc
    an actual ustar blob (stdlib-written) holding 2–4 samples, each a
    {key}.txt + {key}.cls member pair, then hand-parsed back
    (operators/tarshard.parse_tar — 512-byte headers, octal sizes,
    checksum verify) and GROUPED into samples by dotted basename key
    (group_samples — the WebDataset convention), reducing to
    integer-exact stats. Grouping is shard-local by construction (the
    whole point of tar shards), so assembling samples needs no
    shuffle. Member texts are closed-form, so the DuckDB oracle
    recomputes everything."""
    import pandas as pd

    from bazof_spark.operators.tarshard import (
        build_tar,
        group_samples,
        parse_tar,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                ns = 2 + mid % 3
                members = []
                for s in range(ns):
                    txt = " ".join(
                        f"t{mid}_{s}_{i}" for i in range(1 + mid % 3)
                    )
                    members.append((f"{s:06d}.txt", txt.encode()))
                    members.append(
                        (f"{s:06d}.cls", str((mid + s) % 10).encode())
                    )
                blobs.append(build_tar(members))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def extract(it):
        for pdf in it:
            out = {
                "media_id": [], "n_samples": [], "txt_bytes": [],
                "cls_sum": [], "char_checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                groups = group_samples(parse_tar(bytes(blob)))
                assert all(
                    set(g["parts"]) == {"txt", "cls"} for g in groups
                )
                out["media_id"].append(mid)
                out["n_samples"].append(len(groups))
                out["txt_bytes"].append(
                    sum(len(g["parts"]["txt"]) for g in groups)
                )
                out["cls_sum"].append(
                    sum(int(g["parts"]["cls"]) for g in groups)
                )
                out["char_checksum"].append(
                    sum(sum(g["parts"]["txt"]) for g in groups)
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(
        extract,
        "media_id long, n_samples int, txt_bytes long, "
        "cls_sum long, char_checksum long",
    )


def zip_extract_documents_q(spark, sf_dir):
    """REAL archive ingestion end-to-end (round 9): per doc an actual
    ZIP (stdlib-written, so fixtures are known-good; even media_ids
    deflated, odd stored) holding 1–3 deterministic text members, then
    hand-parsed back (operators/ziparchive.parse_zip — EOCD scan,
    central-directory walk, local-header offset resolution, raw
    inflate, per-member CRC-32 verify) and reduced to integer-exact
    stats. The member texts are closed-form, so the DuckDB oracle
    recomputes everything; a framing, inflate, or CRC mistake changes
    the hash. Two map-only Arrow-batched stages, no shuffle."""
    import pandas as pd

    from bazof_spark.operators.ziparchive import build_zip, parse_zip

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                nm = 1 + mid % 3
                members = [
                    (
                        f"m{p}.txt",
                        " ".join(
                            f"z{mid}_{p}_{i}" for i in range(2 + mid % 4)
                        ).encode("utf-8"),
                    )
                    for p in range(nm)
                ]
                blobs.append(build_zip(members, compress=mid % 2 == 0))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def extract(it):
        for pdf in it:
            out = {
                "media_id": [], "n_members": [], "total_bytes": [],
                "char_checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                ms = parse_zip(bytes(blob))
                out["media_id"].append(mid)
                out["n_members"].append(len(ms))
                out["total_bytes"].append(sum(m["size"] for m in ms))
                out["char_checksum"].append(
                    sum(sum(m["data"]) for m in ms)
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(
        extract,
        "media_id long, n_members int, total_bytes long, char_checksum long",
    )


def warc_extract_text_q(spark, sf_dir):
    """REAL web-archive ingestion end-to-end (round 9 — the
    CommonCrawl shape every LLM pretraining pipeline starts from):
    per doc a deterministic HTML page (title, entity-bearing h1,
    2–4 paragraphs, plus a style block, an HTML comment, and a script
    whose text must NOT survive) wrapped as a WARC/1.0 response
    record in its own gzip member (operators/warc.build_warc_gz),
    then demuxed (gzip-member walk, Content-Length framing, HTTP
    envelope split) and reduced to integer-exact stats over the
    EXTRACTED visible text (operators/warc.html_to_text — script/
    style/comment subtrees dropped, tags stripped, entities decoded,
    whitespace collapsed). The extraction is deterministic, so the
    DuckDB oracle rebuilds the expected text in closed form from the
    page template — leaked script text, surviving markup, a broken
    entity, or bad record framing all change the hash. Two map-only
    Arrow-batched stages, no shuffle; trafilatura/resiliparse slot
    into the same seam in production."""
    import pandas as pd

    from bazof_spark.operators.warc import (
        build_warc_gz,
        html_to_text,
        parse_warc,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                np_, nw = 2 + mid % 3, 3 + mid % 4
                paras = "".join(
                    "<p>"
                    + " ".join(f"w{mid}_{p}_{i}" for i in range(nw))
                    + "</p>"
                    for p in range(np_)
                )
                html = (
                    f"<html><head><title>Doc {mid}</title>"
                    f"<style>p {{color: red}}</style></head>"
                    f"<body><!-- c{mid} --><h1>Title &amp; {mid}</h1>"
                    f"{paras}<script>var trap_{mid} = 1;</script>"
                    f"</body></html>"
                )
                blobs.append(
                    build_warc_gz(
                        [{
                            "uri": f"http://example.com/{mid}",
                            "date": "2024-01-01T00:00:00Z",
                            "html": html,
                        }]
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def extract(it):
        for pdf in it:
            out = {
                "media_id": [], "http_status": [], "n_words": [],
                "n_chars": [], "char_checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                recs = parse_warc(bytes(blob))
                (rec,) = recs
                text = html_to_text(rec["body"].decode("utf-8"))
                out["media_id"].append(mid)
                out["http_status"].append(int(rec["http_status"]))
                out["n_words"].append(len(text.split()))
                out["n_chars"].append(len(text))
                out["char_checksum"].append(sum(ord(c) for c in text))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        extract,
        "media_id long, http_status int, n_words long, "
        "n_chars long, char_checksum long",
    )


def multimodal_ogg_decode_q(spark, sf_dir):
    """REAL Ogg container decode end-to-end (round 9 — the last named
    entry of the mp3/flac/ogg residue): deterministic int16 PCM per
    doc wrapped via the published FLAC-in-Ogg mapping
    (operators/oggcodec.encode_ogg_flac — RFC 3533 pages, segment
    lacing, the unreflected 0x04C11DB7 page CRC-32, BOS/EOS flags,
    0x7F"FLAC" mapping header), then recovered by the independent page
    walk + packet reassembly (decode_ogg_flac verifies every page CRC,
    every FLAC frame CRC, and the stream MD5) and reduced to
    integer-exact stats. Lossless, so the DuckDB oracle recomputes
    straight from the synthesis formula. Two map-only Arrow-batched
    stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.oggcodec import (
        decode_ogg_flac,
        encode_ogg_flac,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 150 + mid % 53
                i = np.arange(n, dtype=np.int64)
                samples = ((mid * 104729 + i * 97) % 3001) - 1500
                blobs.append(
                    encode_ogg_flac(
                        samples.astype(np.int16), 8000,
                        block_size=64, force_lpc=bool(mid % 2),
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def stats(it):
        for pdf in it:
            out = {
                "media_id": [], "sample_rate": [], "n_frames": [],
                "peak": [], "amp_sum": [], "checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                sr, _, dec = decode_ogg_flac(bytes(blob))
                d = dec.astype(np.int64)
                out["media_id"].append(mid)
                out["sample_rate"].append(sr)
                out["n_frames"].append(len(d))
                out["peak"].append(int(np.abs(d).max()))
                out["amp_sum"].append(int(np.abs(d).sum()))
                out["checksum"].append(int(d.sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        stats,
        "media_id long, sample_rate int, n_frames long, "
        "peak int, amp_sum long, checksum long",
    )


def multimodal_adpcm_decode_q(spark, sf_dir):
    """REAL compressed-audio decode end-to-end (round 9 — the first
    COMPRESSED audio codec in-sandbox): the same deterministic int16
    PCM synthesis as multimodal_wav_decode, but encoded as a genuine
    WAVE_FORMAT_IMA_ADPCM (0x0011) file — 4-bit adaptive differential
    nibbles, block headers, fact-chunk sample count
    (operators/adpcmcodec.encode_wav_ima_adpcm) — then recovered by the
    independent decoder path (multimodal.decode_wav dispatches on the
    fmt tag) and reduced to integer-exact stats over the DECODED
    (lossy) waveform. The DuckDB oracle re-runs the published IMA
    encoder+decoder state machine a THIRD time as a recursive CTE in
    pure SQL (step-size/index tables as literals), so a mismatch
    anywhere — nibble packing order, quantizer rounding, clamp bounds,
    header layout — changes the hash. Two map-only Arrow-batched
    stages, no shuffle; the ~200-step recursion runs only in the
    oracle engine, never on the cluster."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.adpcmcodec import encode_wav_ima_adpcm
    from bazof_spark.operators.multimodal import decode_wav

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 160 + mid % 41
                i = np.arange(n, dtype=np.int64)
                samples = ((mid * 7919 + i * 131) % 4001) - 2000
                blobs.append(
                    encode_wav_ima_adpcm(samples.astype(np.int16), 8000)
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def stats(it):
        for pdf in it:
            out = {
                "media_id": [], "n_samples": [], "dec_sum": [],
                "dec_abs_sum": [], "peak": [], "pos_checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                _, _, dec = decode_wav(bytes(blob))
                d = dec.astype(np.int64)
                i = np.arange(len(d), dtype=np.int64)
                out["media_id"].append(mid)
                out["n_samples"].append(len(d))
                out["dec_sum"].append(int(d.sum()))
                out["dec_abs_sum"].append(int(np.abs(d).sum()))
                out["peak"].append(int(np.abs(d).max()))
                out["pos_checksum"].append(int(((i + 1) * d).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        stats,
        "media_id long, n_samples long, dec_sum long, "
        "dec_abs_sum long, peak int, pos_checksum long",
    )


def multimodal_g711_decode_q(spark, sf_dir):
    """REAL G.711 companding end-to-end (round 9 — the telephony
    codec): deterministic int16 samples sweeping the full 16-bit range
    (a 257-step grid indexed by (mid + 7i) % 256), encoded as genuine
    G.711 WAV files — μ-law (tag 7) for even docs, A-law (tag 6) for
    odd — through the real compander (operators/g711codec, pinned
    bit-exact to the public Sun g711.c algorithm that audioop wraps),
    then recovered by the independent decode path (multimodal.
    decode_wav dispatches on the fmt tag) and reduced to integer-exact
    stats over the DECODED (lossy) waveform. The DuckDB oracle embeds
    the 256-entry composed decode∘encode expansion per law as literals
    and recomputes the stats from the synthesis formula — a mistake in
    either companding direction, the bit inversions, the segment
    boundaries, or the WAV framing changes the hash. Two map-only
    Arrow-batched stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import (
        decode_wav,
        encode_wav_g711,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 160 + mid % 41
                i = np.arange(n, dtype=np.int64)
                samples = (257 * ((mid + 7 * i) % 256) - 32768).astype(
                    np.int16
                )
                blobs.append(
                    encode_wav_g711(
                        samples, 8000, "ulaw" if mid % 2 == 0 else "alaw"
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def stats(it):
        for pdf in it:
            out = {
                "media_id": [], "n_samples": [], "dec_sum": [],
                "dec_abs_sum": [], "peak": [], "pos_checksum": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                _, _, dec = decode_wav(bytes(blob))
                d = dec.astype(np.int64)
                i = np.arange(len(d), dtype=np.int64)
                out["media_id"].append(mid)
                out["n_samples"].append(len(d))
                out["dec_sum"].append(int(d.sum()))
                out["dec_abs_sum"].append(int(np.abs(d).sum()))
                out["peak"].append(int(np.abs(d).max()))
                out["pos_checksum"].append(int(((i + 1) * d).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        stats,
        "media_id long, n_samples long, dec_sum long, "
        "dec_abs_sum long, peak int, pos_checksum long",
    )


def multimodal_png_decode_q(spark, sf_dir):
    """REAL PNG decode end-to-end: the same deterministic pixel grids
    as multimodal_bmp_decode, but encoded as standard PNGs whose rows
    cycle through ALL FIVE scanline filters ((media_id + y) % 5 —
    operators/multimodal.encode_png_filtered), then zlib-inflated and
    unfiltered by decode_png. A mistake in any of Sub/Up/Average/Paeth
    reconstruction, the zlib framing, or chunk walking changes the
    position-weighted checksum. Oracle recomputes from the pixel
    formula — identical to the BMP oracle because the pixels are."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import (
        bmp_pixel_stats,
        decode_png,
        encode_png_filtered,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1, 1)
                x = np.arange(w).reshape(1, w, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((mid + 7 * y + 3 * x + c) % 256).astype(np.uint8)
                filters = [(mid + yy) % 5 for yy in range(h)]
                blobs.append(encode_png_filtered(px, filters))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(media, decoder=decode_png)


def multimodal_jpeg_decode_q(spark, sf_dir):
    """REAL baseline-JPEG decode end-to-end (round 8 — the most-hit
    codec gap): deterministic BLOCK-CONSTANT grayscale grids per doc
    (value (mid + 11·by + 5·bx) % 256 per 8×8 block), encoded as actual
    baseline JPEGs (full FDCT + quantization + canonical Huffman,
    operators/jpegcodec.encode_jpeg_baseline), decoded back through the
    GENERAL decoder (marker walk, stream-declared DHT tables, dequant,
    IDCT) and reduced to position-weighted checksums. Block-constant
    content under unit quant tables round-trips BIT-exactly (a constant
    block's FDCT is a lone integer DC coefficient), so the DuckDB
    oracle recomputes the stats straight from the block formula — a
    mistake anywhere in the entropy coding, dequant, or IDCT changes
    the hash. Two map-only Arrow-batched stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.jpegcodec import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )
    from bazof_spark.operators.multimodal import bmp_pixel_stats

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
                by = np.arange(h // 8).reshape(-1, 1)
                bx = np.arange(w // 8).reshape(1, -1)
                blocks = ((mid + 11 * by + 5 * bx) % 256).astype(np.uint8)
                px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                blobs.append(encode_jpeg_baseline(px))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(
        media,
        decoder=lambda b: np.repeat(
            decode_jpeg_baseline(b)[:, :, None], 3, axis=2
        ),
    )


def multimodal_jpeg_progressive_decode_q(spark, sf_dir):
    """REAL progressive-JPEG (SOF2) decode end-to-end (round 9 — the
    most common real-world JPEG shape): the same deterministic
    block-constant grayscale grids as multimodal_jpeg_decode, but
    encoded as PROGRESSIVE streams — even media_ids with the full
    4-pass successive-approximation scan script (DC first Al=1, AC
    first Al=1 per component, DC refinement, AC refinement with
    interleaved correction bits), odd ids with the minimal
    spectral-selection-only script — and decoded back through the
    general T.81 Annex G decoder (operators/jpegcodec.decode_jpeg).
    Successive approximation must reassemble the EXACT quantized
    coefficients, so block-constant content under unit quant tables
    still round-trips bit-exactly and the DuckDB oracle recomputes the
    stats from the block formula — a mistake in any of the four scan
    decoders changes the hash. Two map-only Arrow-batched stages, no
    shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_progressive,
    )
    from bazof_spark.operators.multimodal import bmp_pixel_stats

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
                by = np.arange(h // 8).reshape(-1, 1)
                bx = np.arange(w // 8).reshape(1, -1)
                blocks = ((mid + 11 * by + 5 * bx) % 256).astype(np.uint8)
                px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                blobs.append(
                    encode_jpeg_progressive(
                        px, spectral_only=bool(mid % 2)
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(
        media,
        decoder=lambda b: np.repeat(
            decode_jpeg(b)[:, :, None], 3, axis=2
        ),
    )


def multimodal_gif_decode_q(spark, sf_dir):
    """REAL GIF decode end-to-end (round 8): deterministic grayscale
    grids per doc (value (mid + 7y + 3x) % 256 under the 256-entry
    identity palette), encoded as standard GIF89a with a genuine LZW
    compressor — odd media_ids additionally INTERLACED (the four-pass
    row order) — then recovered by the independent LZW decoder
    (operators/gifcodec.decode_gif: variable code widths, dictionary
    reset, deinterlace) and reduced to position-weighted checksums.
    GIF is lossless for palette content, so the DuckDB oracle
    recomputes the stats straight from the pixel formula — a bit-
    packing or interlace mistake anywhere changes the hash."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.gifcodec import decode_gif, encode_gif
    from bazof_spark.operators.multimodal import bmp_pixel_stats

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1)
                x = np.arange(w).reshape(1, w)
                px = ((mid + 7 * y + 3 * x) % 256).astype(np.uint8)
                blobs.append(encode_gif(px, interlace=bool(mid % 2)))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(media, decoder=decode_gif)


def multimodal_gif_frame_sample_q(spark, sf_dir):
    """REAL video-seam frame sampling (round 8): per doc an ANIMATED
    GIF (2 + mid%4 frames, pixel (mid + 5f + 7y + 3x) % 256, grayscale
    identity palette, Netscape loop + per-frame graphic control), then
    every SECOND frame is extracted through the full LZW decode +
    progressive compositing path (gifcodec.decode_gif_frames) and
    reduced to frame-weighted checksums. This replaces the byte-chunk
    stand-in (multimodal_frame_sample) with genuine decode-then-sample
    — the shape a video column takes at scale, with the library codec
    slotting into the same mapInPandas seam. GIF is lossless, so the
    DuckDB oracle recomputes from the synthesis formula."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from bazof_spark.operators.gifcodec import (
        decode_gif_frames,
        encode_gif_animated,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1)
                x = np.arange(w).reshape(1, w)
                frames = [
                    ((mid + 5 * f + 7 * y + 3 * x) % 256).astype(np.uint8)
                    for f in range(2 + mid % 4)
                ]
                blobs.append(encode_gif_animated(frames))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("n_sampled", IntegerType(), False),
            StructField("checksum", LongType(), False),
            StructField("frame_weighted", LongType(), False),
        ]
    )

    def sample(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                frames = decode_gif_frames(bytes(blob))
                sampled = frames[::2]
                cs = sum(int(f.astype(np.int64).sum()) for f in sampled)
                fw = sum(
                    int(f.astype(np.int64).sum()) * (2 * i + 1)
                    for i, f in enumerate(sampled)
                )
                out.append((mid, len(frames), len(sampled), cs, fw))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_frames", "n_sampled", "checksum",
                    "frame_weighted",
                ],
            )

    return media.mapInPandas(sample, schema)


def multimodal_avi_frame_sample_q(spark, sf_dir):
    """REAL video-CONTAINER demux + decode + frame-sample (round 9):
    per doc an actual AVI file (Microsoft RIFF layout — avih/strh/strf
    headers, '00dc' movi chunks, idx1 keyframe index) carrying an
    MJPEG stream of 2 + mid%4 independent baseline JPEGs (the same
    block-constant grids as multimodal_jpeg_decode, shifted 9·f per
    frame). Spark demuxes through the recursive RIFF walk
    (operators/avicontainer.parse_avi — the idx1 index is cross-checked
    against the demuxed frames), decodes every SECOND frame through the
    general T.81 decoder, and reduces to frame-weighted checksums.
    Block-constant JPEG under unit quant round-trips bit-exactly, so
    the DuckDB oracle recomputes from the block formula — a mistake in
    the container walk, chunk alignment, index, or entropy decode
    changes the hash. Two map-only Arrow-batched stages, no shuffle;
    a library codec slots into the same mapInPandas seam."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from bazof_spark.operators.avicontainer import (
        encode_avi_mjpeg,
        parse_avi,
    )
    from bazof_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
                by = np.arange(h // 8).reshape(-1, 1)
                bx = np.arange(w // 8).reshape(1, -1)
                frames = []
                for f in range(2 + mid % 4):
                    blocks = (
                        (mid + 9 * f + 11 * by + 5 * bx) % 256
                    ).astype(np.uint8)
                    px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                    frames.append(encode_jpeg_baseline(px))
                blobs.append(encode_avi_mjpeg(frames, w, h, fps=12))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("n_sampled", IntegerType(), False),
            StructField("checksum", LongType(), False),
            StructField("frame_weighted", LongType(), False),
        ]
    )

    def sample(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                meta = parse_avi(bytes(blob))
                sampled = meta["frames"][::2]
                sums = [
                    int(decode_jpeg(fb).astype(np.int64).sum())
                    for fb in sampled
                ]
                out.append(
                    (
                        mid, meta["width"], meta["height"],
                        meta["n_frames"], len(sampled),
                        sum(sums),
                        sum(s * (2 * i + 1) for i, s in enumerate(sums)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_frames",
                    "n_sampled", "checksum", "frame_weighted",
                ],
            )

    return media.mapInPandas(sample, schema)


def multimodal_mp4_frame_sample_q(spark, sf_dir):
    """REAL MP4 (ISO BMFF) demux + decode + frame-sample (round 9):
    per doc an actual MP4 file — ftyp/mdat/moov with the full sample-
    table machinery (stsc first-chunk runs at 2 samples/chunk so the
    run expansion is genuinely exercised, per-sample stsz, absolute
    stco offsets, mdhd/stts timing) — carrying an MJPEG track of
    2 + mid%4 independent baseline JPEGs (block-constant grids shifted
    13·f per frame). Spark demuxes through the box-tree walk
    (operators/mp4container.parse_mp4 — tables are cross-checked
    against each other), decodes every SECOND sample through the
    general T.81 decoder, and reduces to frame-weighted checksums.
    Block-constant JPEG under unit quant round-trips bit-exactly, so
    the DuckDB oracle recomputes from the block formula — a mistake in
    box sizes, stsc expansion, chunk-offset arithmetic, or entropy
    decode changes the hash. Two map-only Arrow-batched stages, no
    shuffle; ffmpeg/pyav slots into the same mapInPandas seam for
    inter-frame codecs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from bazof_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_baseline,
    )
    from bazof_spark.operators.mp4container import (
        encode_mp4_mjpeg,
        parse_mp4,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
                by = np.arange(h // 8).reshape(-1, 1)
                bx = np.arange(w // 8).reshape(1, -1)
                frames = []
                for f in range(2 + mid % 4):
                    blocks = (
                        (mid + 13 * f + 11 * by + 5 * bx) % 256
                    ).astype(np.uint8)
                    px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                    frames.append(encode_jpeg_baseline(px))
                blobs.append(encode_mp4_mjpeg(frames, w, h, fps=12))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("n_sampled", IntegerType(), False),
            StructField("checksum", LongType(), False),
            StructField("frame_weighted", LongType(), False),
        ]
    )

    def sample(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                meta = parse_mp4(bytes(blob))
                sampled = meta["frames"][::2]
                sums = [
                    int(decode_jpeg(fb).astype(np.int64).sum())
                    for fb in sampled
                ]
                out.append(
                    (
                        mid, meta["width"], meta["height"],
                        meta["n_frames"], len(sampled),
                        sum(sums),
                        sum(s * (2 * i + 1) for i, s in enumerate(sums)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_frames",
                    "n_sampled", "checksum", "frame_weighted",
                ],
            )

    return media.mapInPandas(sample, schema)


def multimodal_mkv_frame_sample_q(spark, sf_dir):
    """REAL Matroska (EBML) demux + decode + frame-sample (round 9),
    completing the container triple next to AVI and MP4: per doc an
    actual MKV file — EBML header, Segment/Info/Tracks, a ``V_MJPEG``
    video track, frames in SimpleBlocks grouped 2 per Cluster so the
    parser must combine cluster and block timestamps — carrying
    2 + mid%4 independent baseline JPEGs (block-constant grids shifted
    17·f per frame). Spark demuxes through the EBML walk
    (operators/mkvcontainer.parse_mkv — marker-bit varints, SimpleBlock
    framing, lacing), decodes every SECOND frame through the general
    T.81 decoder, and reduces to frame-weighted checksums. Block-
    constant JPEG under unit quant round-trips bit-exactly, so the
    DuckDB oracle recomputes from the block formula. Two map-only
    Arrow-batched stages, no shuffle; ffmpeg/pyav slots into the same
    mapInPandas seam for inter-frame codecs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from bazof_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_baseline,
    )
    from bazof_spark.operators.mkvcontainer import (
        encode_mkv_mjpeg,
        parse_mkv,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
                by = np.arange(h // 8).reshape(-1, 1)
                bx = np.arange(w // 8).reshape(1, -1)
                frames = []
                for f in range(2 + mid % 4):
                    blocks = (
                        (mid + 17 * f + 11 * by + 5 * bx) % 256
                    ).astype(np.uint8)
                    px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                    frames.append(encode_jpeg_baseline(px))
                blobs.append(encode_mkv_mjpeg(frames, w, h, fps=10))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("n_sampled", IntegerType(), False),
            StructField("checksum", LongType(), False),
            StructField("frame_weighted", LongType(), False),
        ]
    )

    def sample(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                meta = parse_mkv(bytes(blob))
                sampled = meta["frames"][::2]
                sums = [
                    int(decode_jpeg(fb).astype(np.int64).sum())
                    for fb in sampled
                ]
                out.append(
                    (
                        mid, meta["width"], meta["height"],
                        meta["n_frames"], len(sampled),
                        sum(sums),
                        sum(s * (2 * i + 1) for i, s in enumerate(sums)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_frames",
                    "n_sampled", "checksum", "frame_weighted",
                ],
            )

    return media.mapInPandas(sample, schema)


def multimodal_bmp_decode_q(spark, sf_dir):
    """REAL image decode end-to-end: deterministic RGB pixel grids per
    doc, encoded as actual 24-bit BMP files (bottom-up rows, BGR order,
    4-byte row padding), hand-parsed back
    (operators/multimodal.decode_bmp) and reduced to position-weighted
    checksums — flipped rows, swapped channels or padding leaks all
    change the answer. Oracle recomputes from the pixel formula."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import bmp_pixel_stats, encode_bmp

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1, 1)
                x = np.arange(w).reshape(1, w, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((mid + 7 * y + 3 * x + c) % 256).astype(np.uint8)
                blobs.append(encode_bmp(px))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(media)


def multimodal_tiff_decode_q(spark, sf_dir):
    """REAL baseline-TIFF decode end-to-end (round 9): the same
    deterministic RGB grids as multimodal_bmp_decode written as actual
    TIFF 6.0 files — IFD tags, 2-row strips so the multi-strip path
    always carries live data, and per-doc alternating compression
    (even ids TIFF-LZW: MSB-first, 9-bit start, EarlyChange width
    bumps; odd ids PackBits RLE) — then recovered by the independent
    IFD walk + fresh decompressors (operators/tiffcodec.decode_tiff)
    and reduced to position-weighted checksums. Lossless, so the
    oracle is IDENTICAL to the BMP one. Two map-only Arrow-batched
    stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import bmp_pixel_stats
    from bazof_spark.operators.tiffcodec import (
        COMP_LZW,
        COMP_PACKBITS,
        decode_tiff,
        encode_tiff,
    )

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1, 1)
                x = np.arange(w).reshape(1, w, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((mid + 7 * y + 3 * x + c) % 256).astype(np.uint8)
                comp = COMP_LZW if mid % 2 == 0 else COMP_PACKBITS
                blobs.append(encode_tiff(px, comp, rows_per_strip=2))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(media, decoder=decode_tiff)


def multimodal_qoi_decode_q(spark, sf_dir):
    """REAL QOI decode end-to-end (round 9 — the 2022 public-domain
    format): the same deterministic RGB grids as multimodal_bmp_decode
    encoded as genuine QOI streams (greedy RUN/INDEX/DIFF/LUMA/RGB op
    choice, 64-entry running index, end marker —
    operators/qoicodec.encode_qoi), decoded back by the independent
    byte walk (decode_qoi) and reduced to position-weighted checksums.
    QOI is lossless, so the oracle is IDENTICAL to the BMP one — an op
    mis-decode, index-hash mistake, or wrapping error anywhere changes
    the hash. Two map-only Arrow-batched stages, no shuffle."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import bmp_pixel_stats
    from bazof_spark.operators.qoicodec import decode_qoi, encode_qoi

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1, 1)
                x = np.arange(w).reshape(1, w, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((mid + 7 * y + 3 * x + c) % 256).astype(np.uint8)
                blobs.append(encode_qoi(px))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(media, decoder=decode_qoi)


def multimodal_webp_decode_q(spark, sf_dir):
    """REAL WebP-lossless (VP8L) decode end-to-end (round 9 — the
    format web scrapes actually contain): the same deterministic RGB
    grids as multimodal_bmp_decode, encoded as genuine VP8L bitstreams
    with a per-doc TRANSFORM MIX so every decoder path runs at corpus
    scale — doc_id % 7 == 0 goes through palette color-indexing (with
    sub-byte pixel bundling), % 3 == 0 through a predictor transform
    (mode doc_id % 14, forward residuals), odd docs through
    subtract-green, % 5 == 0 adds a color cache, and % 11 == 0 a
    cross-channel color transform — then recovered by the independent
    decoder (LSB-first bit reader, canonical prefix codes incl. the
    code-length-coded general form, LZ77 refs, cache, inverse
    transforms; operators/vp8lcodec.py) and reduced to position-
    weighted checksums. VP8L is lossless, so the oracle is IDENTICAL
    to the BMP one — a mistake anywhere in the bit packing, prefix
    trees, or transform inverses changes the hash. Two map-only
    Arrow-batched stages, no shuffle; lossy WebP/AVIF stay the
    declared library seam."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import bmp_pixel_stats
    from bazof_spark.operators.vp8lcodec import decode_vp8l, encode_vp8l

    docs = _docs_par(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y = np.arange(h).reshape(h, 1, 1)
                x = np.arange(w).reshape(1, w, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((mid + 7 * y + 3 * x + c) % 256).astype(np.uint8)
                rgba = np.concatenate(
                    [px, np.full((h, w, 1), 255, np.uint8)], axis=2
                )
                if mid % 7 == 0:
                    kw = {"palette": True}
                else:
                    kw = {
                        "use_subtract_green": mid % 2 == 1,
                        "cache_bits": 4 if mid % 5 == 0 else 0,
                    }
                    if mid % 3 == 0:
                        kw["predictor_mode"] = mid % 14
                    if mid % 11 == 0:
                        kw["color_element"] = (
                            mid % 256, (3 * mid) % 256, (5 * mid) % 256
                        )
                blobs.append(encode_vp8l(rgba, **kw))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": blobs})

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return bmp_pixel_stats(
        media, decoder=lambda b: decode_vp8l(b)[:, :, :3]
    )


def filter_cascade_q(spark, sf_dir):
    """End-to-end filter CASCADE — the published pretraining-pipeline
    shape (FineWeb/RefinedWeb order): language-ID gate → Gopher rule
    conjunction → exact dedup (md5 winner) → quality threshold, each
    doc reporting the FIRST stage that rejected it (or 'kept'). Every
    component is an already-oracle-verified operator (language_id,
    the Gopher flags, the md5-window dedup, quality_score) — this
    query pins their COMPOSITION, the thing an actual pipeline runs.
    Plan: all gates are Column expressions in one projection; the only
    exchange is the dedup window's md5 hash partition."""
    from bazof_spark.functions.repetition import word_repetition_ratio
    from bazof_spark.functions.text import (
        LANG_MARKERS,
        language_id,
        quality_score,
    )

    docs = _docs_par(spark, sf_dir)
    t = F.col("text")
    words = F.regexp_count(t, F.lit(r"[A-Za-z0-9_]+"))
    letters = F.regexp_count(t, F.lit(r"[A-Za-z0-9_]"))
    # identity form — see functions/text.punct_count for why
    punct = F.length(t) - letters - F.regexp_count(t, F.lit(r"\s"))
    stops = F.regexp_count(
        t, F.lit(r"(?i)\b(" + "|".join(LANG_MARKERS["en"]) + r")\b")
    )
    n = F.length(t)
    # try_divide: ANSI mode would otherwise raise on an empty doc
    # (words = 0 / n = 0) — `&` does not short-circuit in SQL
    mwl = F.try_divide(letters, words)
    gopher_ok = (
        (words >= 20) & (words <= 1000)
        & (words > 0) & (mwl >= 3.0) & (mwl <= 10.0)
        & (n > 0) & (F.try_divide(punct, n) <= 0.2)
        & (stops >= 2)
        & (word_repetition_ratio(t) <= 0.4)
    )
    w = Window.partitionBy(F.md5(t))
    # every gate coalesces to false: a NULL text must be REJECTED at
    # its first stage, not slip through the when-chain as 'kept'
    staged = docs.select(
        "doc_id",
        F.coalesce(language_id(t) == "en", F.lit(False)).alias("_lang_ok"),
        F.coalesce(gopher_ok, F.lit(False)).alias("_gopher_ok"),
        F.coalesce(
            F.col("doc_id") == F.min("doc_id").over(w), F.lit(False)
        ).alias("_dedup_ok"),
        F.coalesce(
            F.round(quality_score(t), 6) >= 0.5, F.lit(False)
        ).alias("_quality_ok"),
    )
    first_failed = (
        F.when(~F.col("_lang_ok"), F.lit("langid"))
        .when(~F.col("_gopher_ok"), F.lit("gopher"))
        .when(~F.col("_dedup_ok"), F.lit("dedup"))
        .when(~F.col("_quality_ok"), F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    return staged.select(
        "doc_id",
        first_failed.alias("first_failed"),
        (first_failed == "kept").cast("int").alias("keep"),
    )


def lang_temperature_resample_q(spark, sf_dir):
    """Multilingual temperature resampling (functions/sampling.
    temperature_weights — the XLM-R/mT5 α=0.3 recipe): per-language
    counts → tempered sampling shares (n_l/N)^α normalized, the boost
    factor tail languages get, and the expected per-language budget at
    10k samples. One corpus scan with a map-side-combined count per
    language; everything after operates on the ≤|langs| aggregate —
    broadcast-sized at any corpus scale. The oracle recomputes the
    same two-level normalization in SQL."""
    from bazof_spark.functions.sampling import temperature_weights

    docs = _t("documents")(spark, sf_dir)
    return temperature_weights(docs, "lang", alpha=0.3, budget=10000)


def url_normalize_q(spark, sf_dir):
    """URL canonicalization over the corpus (functions/url.py — the
    CommonCrawl dedup-key step): per doc a deliberately messy raw URL
    (mixed-case scheme/host, default and non-default ports, doubled
    path slashes, trailing slash, utm_ tracking params, unsorted
    query, fragment) built from doc_id by BOTH engines, then
    normalized independently — Spark through JVM regex/array
    expressions in whole-stage codegen, the oracle through DuckDB's
    RE2 regex and list functions — and reduced to the canonical
    string, its host, and an md5. Two engines' regex/sort semantics
    must agree on every byte. Map-only, zero Python, zero shuffles."""
    from bazof_spark.exprcache import cached_column
    from bazof_spark.functions.url import url_host, url_normalize

    docs = _docs_par(spark, sf_dir).select("doc_id")

    # the raw-URL synthesis chain (~15 when/concat nodes) and the
    # normalization tree depend only on fixed literals and the doc_id
    # column name — built once per process (opt round 1, change 15)
    def _raw() -> F.Column:
        d = F.col("doc_id")
        scheme = F.when(d % 4 == 0, F.lit("HTTP")).when(
            d % 4 == 1, F.lit("HtTpS")
        ).when(d % 4 == 2, F.lit("http")).otherwise(F.lit("https"))
        port = F.when(d % 4 == 0, F.lit(":80")).when(
            d % 4 == 1, F.lit(":443")
        ).when(d % 4 == 2, F.lit(":8080")).otherwise(F.lit(""))
        return F.concat(
            scheme, F.lit("://WWW.Example"), (d % 50).cast("string"),
            F.lit(".COM"), port,
            F.lit("//Dir"), (d % 7).cast("string"), F.lit("//Page/"),
            F.lit("?utm_source=feed&z="), (d % 5).cast("string"),
            F.lit("&a="), (d % 3).cast("string"),
            F.lit("#sec"), (d % 2).cast("string"),
        )

    raw = cached_column(("url_normalize_q", "raw"), _raw)
    u = docs.select("doc_id", url_normalize(raw).alias("url_norm"))
    return u.select(
        "doc_id",
        "url_norm",
        url_host(F.col("url_norm")).alias("host"),
        cached_column(
            ("url_normalize_q", "digest"),
            lambda: F.md5(F.col("url_norm").cast("binary")).alias("digest"),
        ),
    )


def deflate_decode_text_q(spark, sf_dir):
    """DEFLATE round trip at corpus scale: each document's text is
    compressed by zlib at level doc_id % 10 (so stored, fixed-Huffman
    and dynamic-Huffman blocks all appear in the corpus) and recovered
    by ``zlib.decompress`` (Adler-32 verified), then reduced to byte
    length + md5 of the recovered bytes. The DuckDB oracle hashes the
    original text directly, so the hashes agree only if every
    document survives the round trip byte for byte. Two map-only
    Arrow-batched stages, no shuffle."""
    import hashlib
    import zlib

    import pandas as pd

    docs = _docs_par(spark, sf_dir).select("doc_id", "text")

    def compress(it):
        for pdf in it:
            blobs = [
                zlib.compress(t.encode("utf-8"), int(d) % 10)
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "z": blobs})

    comp = docs.mapInPandas(compress, "doc_id long, z binary")

    def recover(it):
        for pdf in it:
            out = {"doc_id": [], "level": [], "n_bytes": [], "digest": []}
            for d, z in zip(pdf["doc_id"], pdf["z"]):
                raw = zlib.decompress(bytes(z))
                out["doc_id"].append(d)
                out["level"].append(int(d) % 10)
                out["n_bytes"].append(len(raw))
                out["digest"].append(hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(out)

    return comp.mapInPandas(
        recover, "doc_id long, level int, n_bytes long, digest string"
    )


def compressed_text_roundtrip_q(spark, sf_dir):
    """Compression round trip at corpus scale over parquet's standard
    page codecs: doc_id % 6 picks lz4-frame / lz4-raw-block / snappy /
    ZSTD (pyarrow) or bzip2 / classic .lzma (stdlib) to compress each
    document's text, and the same C library recovers it, reduced to
    byte length + md5 of the recovered bytes. pyarrow's decoders need
    the output size up front, so the compress stage carries the exact
    raw length with each blob. The DuckDB oracle hashes the original
    text directly, so agreement proves every document survives its
    codec byte for byte. Two map-only Arrow-batched stages, no
    shuffle."""
    import bz2
    import hashlib
    import lzma

    import pandas as pd
    import pyarrow as pa

    docs = _docs_par(spark, sf_dir).select("doc_id", "text")
    by_doc_mod = ("lz4_frame", "lz4_block", "snappy", "zstd", "bzip2", "lzma")
    # codec name -> pyarrow codec; bzip2 and lzma go through the stdlib
    pa_codecs = {
        "lz4_frame": "lz4", "lz4_block": "lz4_raw",
        "snappy": "snappy", "zstd": "zstd",
    }

    def compress(it):
        codecs = {name: pa.Codec(c) for name, c in pa_codecs.items()}
        for pdf in it:
            blobs, names, sizes = [], [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                raw = t.encode("utf-8")
                name = by_doc_mod[int(d) % 6]
                if name == "bzip2":
                    blobs.append(bz2.compress(raw, 9))
                elif name == "lzma":
                    blobs.append(
                        lzma.compress(raw, format=lzma.FORMAT_ALONE, preset=6)
                    )
                else:
                    blobs.append(codecs[name].compress(raw).to_pybytes())
                names.append(name)
                sizes.append(len(raw))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "codec": names, "z": blobs,
                 "raw_len": sizes}
            )

    comp = docs.mapInPandas(
        compress, "doc_id long, codec string, z binary, raw_len long"
    )

    def recover(it):
        codecs = {name: pa.Codec(c) for name, c in pa_codecs.items()}
        for pdf in it:
            out = {
                "doc_id": [], "codec": [], "n_bytes": [], "digest": [],
            }
            for d, name, z, n in zip(
                pdf["doc_id"], pdf["codec"], pdf["z"], pdf["raw_len"]
            ):
                z = bytes(z)
                if name == "bzip2":
                    raw = bz2.decompress(z)
                elif name == "lzma":
                    raw = lzma.decompress(z, format=lzma.FORMAT_ALONE)
                else:
                    raw = codecs[name].decompress(
                        z, decompressed_size=int(n)
                    ).to_pybytes()
                out["doc_id"].append(d)
                out["codec"].append(name)
                out["n_bytes"].append(len(raw))
                out["digest"].append(hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(out)

    return comp.mapInPandas(
        recover, "doc_id long, codec string, n_bytes long, digest string"
    )


def multimodal_metadata_stats_q(spark, sf_dir):
    """Metadata-only aggregation over a multimodal table — never reads
    the binary column (column pruning drops `content` at the scan)."""
    media = _media_df(spark, sf_dir)
    return media.groupBy(F.col("meta.format").alias("format")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("meta.width").cast("long") * F.col("meta.height")).alias(
            "total_pixels"
        ),
    )


# chunking math of sample_video_frames: 256-byte chunks, every 30th,
# always at least one frame
_FRAME_SAMPLE_ORACLE = """
    WITH m AS (
        SELECT doc_id AS media_id, octet_length(encode(text)) AS nb,
               greatest(1, octet_length(encode(text)) // 256) AS n_frames
        FROM documents
    )
    SELECT media_id,
           len(range(0, n_frames, 30)) AS n_sampled,
           CAST(list_sum(list_transform(range(0, n_frames, 30),
               fi -> least(256, greatest(0, nb - fi * 256)))) AS BIGINT)
               AS sampled_bytes
    FROM m
"""

_MULTIMODAL_ORACLES = {
    "multimodal_frame_sample": _FRAME_SAMPLE_ORACLE,
    # recomputes multimodal_wav_decode's PCM synthesis formula directly;
    # Spark's answer came through a real WAV encode→decode round trip
    "multimodal_wav_decode": """
        WITH m AS (
            SELECT doc_id AS media_id, 160 + doc_id % 41 AS n
            FROM documents
        ),
        s AS (
            SELECT media_id, n,
                   list_transform(range(0, n),
                       i -> ((media_id * 7919 + i * 131) % 4001) - 2000)
                       AS smp
            FROM m
        )
        SELECT media_id,
               CAST(8000 AS INT) AS sample_rate,
               CAST(n AS BIGINT) AS n_frames,
               CAST(list_max(list_transform(smp, x -> abs(x))) AS INT)
                   AS peak,
               CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT)
                   AS amp_sum,
               CAST(list_sum(smp) AS BIGINT) AS checksum
        FROM s
    """,
    # identical stats to multimodal_wav_decode (FLAC is lossless, same
    # synthesis); Spark's answer came through a real FLAC encode →
    # CRC/MD5-verified decode round trip, fixed-predictor and LPC paths
    "multimodal_flac_decode": """
        WITH m AS (
            SELECT doc_id AS media_id, 160 + doc_id % 41 AS n
            FROM documents
        ),
        s AS (
            SELECT media_id, n,
                   list_transform(range(0, n),
                       i -> ((media_id * 7919 + i * 131) % 4001) - 2000)
                       AS smp
            FROM m
        )
        SELECT media_id,
               CAST(8000 AS INT) AS sample_rate,
               CAST(n AS BIGINT) AS n_frames,
               CAST(list_max(list_transform(smp, x -> abs(x))) AS INT)
                   AS peak,
               CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT)
                   AS amp_sum,
               CAST(list_sum(smp) AS BIGINT) AS checksum
        FROM s
    """,
    # recomputes sample texts ('t{mid}_{s}_{i}' words) and class
    # labels ((mid+s) % 10) in closed form; Spark's answer came
    # through a hand-parsed ustar walk + WebDataset key grouping
    "tar_shard_samples": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   2 + doc_id % 3 AS ns, 1 + doc_id % 3 AS nw
            FROM documents
        ),
        texts AS (
            SELECT media_id, ns,
                   list_transform(range(0, ns), s ->
                       array_to_string(
                           list_transform(range(0, nw), i ->
                               't' || media_id || '_' || s || '_' || i),
                           ' ')) AS ts,
                   list_transform(range(0, ns), s ->
                       (media_id + s) % 10) AS cls
            FROM m
        )
        SELECT media_id,
               CAST(ns AS INT) AS n_samples,
               CAST(list_sum(list_transform(ts, s -> length(s)))
                   AS BIGINT) AS txt_bytes,
               CAST(list_sum(cls) AS BIGINT) AS cls_sum,
               CAST(list_sum(list_transform(ts, s ->
                   list_sum(list_transform(range(1, length(s) + 1),
                       i -> ascii(substring(s, i, 1))))))
                   AS BIGINT) AS char_checksum
        FROM texts
    """,
    # recomputes member texts in closed form ('z{mid}_{p}_{i}' words
    # joined by spaces); Spark's answer came through a hand-parsed ZIP
    # central directory + inflate + CRC verify
    "zip_extract_documents": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   1 + doc_id % 3 AS nm, 2 + doc_id % 4 AS nw
            FROM documents
        ),
        texts AS (
            SELECT media_id, nm,
                   list_transform(range(0, nm), p ->
                       array_to_string(
                           list_transform(range(0, nw), i ->
                               'z' || media_id || '_' || p || '_' || i),
                           ' ')) AS ms
            FROM m
        )
        SELECT media_id,
               CAST(nm AS INT) AS n_members,
               CAST(list_sum(list_transform(ms, s -> length(s)))
                   AS BIGINT) AS total_bytes,
               CAST(list_sum(list_transform(ms, s ->
                   list_sum(list_transform(range(1, length(s) + 1),
                       i -> ascii(substring(s, i, 1))))))
                   AS BIGINT) AS char_checksum
        FROM texts
    """,
    # rebuilds the page template's expected visible text in closed
    # form ('Doc N Title & N' + the paragraph words joined by single
    # spaces); Spark's answer came through gzip-member WARC demux +
    # HTTP envelope split + the deterministic html_to_text extraction
    "warc_extract_text": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   2 + doc_id % 3 AS np, 3 + doc_id % 4 AS nw
            FROM documents
        ),
        t AS (
            SELECT media_id,
                   'Doc ' || media_id || ' Title & ' || media_id || ' ' ||
                   array_to_string(
                       flatten(list_transform(range(0, np), p ->
                           list_transform(range(0, nw), i ->
                               'w' || media_id || '_' || p || '_' || i))),
                       ' ') AS txt,
                   5 + np * nw AS nwords
            FROM m
        )
        SELECT media_id,
               CAST(200 AS INT) AS http_status,
               CAST(nwords AS BIGINT) AS n_words,
               CAST(length(txt) AS BIGINT) AS n_chars,
               CAST(list_sum(list_transform(range(1, length(txt) + 1),
                   i -> ascii(substring(txt, i, 1)))) AS BIGINT)
                   AS char_checksum
        FROM t
    """,
    # lossless Ogg-FLAC round trip: stats recomputed straight from the
    # synthesis formula; Spark's answer came through RFC 3533 page
    # framing + packet reassembly + FLAC frame decode with every CRC
    # and the stream MD5 verified
    "multimodal_ogg_decode": """
        WITH m AS (
            SELECT doc_id AS media_id, 150 + doc_id % 53 AS n
            FROM documents
        ),
        s AS (
            SELECT media_id, n,
                   list_transform(range(0, n),
                       i -> ((media_id * 104729 + i * 97) % 3001) - 1500)
                       AS smp
            FROM m
        )
        SELECT media_id,
               CAST(8000 AS INT) AS sample_rate,
               CAST(n AS BIGINT) AS n_frames,
               CAST(list_max(list_transform(smp, x -> abs(x))) AS INT)
                   AS peak,
               CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT)
                   AS amp_sum,
               CAST(list_sum(smp) AS BIGINT) AS checksum
        FROM s
    """,
    # re-runs the published IMA-ADPCM encoder+decoder state machine as
    # a recursive CTE (step/index tables as literals, one recursion
    # level per sample): decoded sample 0 is the block-header
    # predictor (= x0 verbatim); each later step quantizes the synth
    # sample against the running predictor exactly like the encoder,
    # then applies the decoder update — so the CTE reproduces the
    # LOSSY decoded waveform bit-for-bit, independently of the Python
    # codec. Spark's answer came through a real WAVE 0x0011 file.
    "multimodal_adpcm_decode": """
        WITH RECURSIVE docs AS (
            SELECT doc_id AS media_id,
                   160 + doc_id % 41 AS n,
                   CAST(((doc_id * 7919) % 4001) - 2000 AS BIGINT) AS x0
            FROM documents
        ),
        steps AS (
            SELECT media_id, n, 0 AS i,
                   x0 AS pred, 0 AS idx,
                   x0 AS ssum, abs(x0) AS asum, abs(x0) AS peak,
                   x0 AS wsum
            FROM docs
            UNION ALL
            SELECT media_id, n, i, pred2, idx2,
                   ssum + pred2, asum + abs(pred2),
                   greatest(peak, abs(pred2)), wsum + (i + 1) * pred2
            FROM (
                SELECT media_id, n, i, ssum, asum, peak, wsum,
                       least(32767, greatest(-32768,
                           pred + CASE WHEN sign_neg THEN -vpd
                                       ELSE vpd END)) AS pred2,
                       least(88, greatest(0, idx +
                           list_extract([-1,-1,-1,-1,2,4,6,8],
                               (CASE WHEN b2 THEN 4 ELSE 0 END
                                + CASE WHEN b1 THEN 2 ELSE 0 END
                                + CASE WHEN b0 THEN 1 ELSE 0 END) + 1)))
                           AS idx2
                FROM (
                    SELECT *,
                           (stp // 8)
                           + CASE WHEN b2 THEN stp ELSE 0 END
                           + CASE WHEN b1 THEN stp // 2 ELSE 0 END
                           + CASE WHEN b0 THEN stp // 4 ELSE 0 END AS vpd
                    FROM (
                        SELECT *, (r2 - CASE WHEN b1 THEN stp // 2
                                           ELSE 0 END) >= stp // 4 AS b0
                        FROM (
                            SELECT *, r2 >= stp // 2 AS b1
                            FROM (
                                SELECT *, ad - CASE WHEN b2 THEN stp
                                               ELSE 0 END AS r2
                                FROM (
                                    SELECT *, ad >= stp AS b2
                                    FROM (
                                        SELECT media_id, n, i + 1 AS i,
                                               pred, idx,
                                               ssum, asum, peak, wsum,
                                               list_extract([7,8,9,10,11,12,
                                                13,14,16,17,19,21,23,25,28,31,
                                                34,37,41,45,50,55,60,66,73,80,
                                                88,97,107,118,130,143,157,173,
                                                190,209,230,253,279,307,337,
                                                371,408,449,494,544,598,658,
                                                724,796,876,963,1060,1166,
                                                1282,1411,1552,1707,1878,2066,
                                                2272,2499,2749,3024,3327,3660,
                                                4026,4428,4871,5358,5894,6484,
                                                7132,7845,8630,9493,10442,
                                                11487,12635,13899,15289,16818,
                                                18500,20350,22385,24623,27086,
                                                29794,32767],
                                                   idx + 1) AS stp,
                                               abs((((media_id * 7919
                                                   + (i + 1) * 131) % 4001)
                                                   - 2000) - pred) AS ad,
                                               ((((media_id * 7919
                                                   + (i + 1) * 131) % 4001)
                                                   - 2000) - pred) < 0
                                                   AS sign_neg
                                        FROM steps WHERE i + 1 < n
                                    )
                                )
                            )
                        )
                    )
                )
            )
        )
        SELECT media_id, CAST(n AS BIGINT) AS n_samples,
               CAST(ssum AS BIGINT) AS dec_sum,
               CAST(asum AS BIGINT) AS dec_abs_sum,
               CAST(peak AS INT) AS peak,
               CAST(wsum AS BIGINT) AS pos_checksum
        FROM steps WHERE i = n - 1
    """,
    # recomputes multimodal_bmp_decode's pixel formula directly;
    # Spark's answer came through a real BMP encode→decode round trip
    "multimodal_png_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           (media_id + 7*y + 3*x + c) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           ((media_id + 7*y + 3*x + c) % 256)
                           * (y*1000000 + x*1000 + c + 1)))))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    # recomputes multimodal_jpeg_decode's BLOCK formula directly (value
    # (mid + 11·(y//8) + 5·(x//8)) % 256, replicated to 3 channels);
    # Spark's answer came through a real baseline-JPEG encode→decode
    # round trip — bit-exact for block-constant content under unit
    # quantization tables
    "multimodal_jpeg_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       3 * ((media_id + 11*(y//8) + 5*(x//8)) % 256)))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       ((media_id + 11*(y//8) + 5*(x//8)) % 256)
                       * (3*(y*1000000 + x*1000) + 6)))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    # recomputes multimodal_jpeg_progressive_decode's BLOCK formula —
    # identical pixels to multimodal_jpeg_decode; Spark's answer came
    # through a progressive (SOF2) encode→decode round trip, even ids
    # via the 4-pass successive-approximation script, odd ids via
    # spectral selection only
    "multimodal_jpeg_progressive_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       3 * ((media_id + 11*(y//8) + 5*(x//8)) % 256)))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       ((media_id + 11*(y//8) + 5*(x//8)) % 256)
                       * (3*(y*1000000 + x*1000) + 6)))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    # recomputes multimodal_gif_decode's pixel formula (grayscale
    # identity palette → all 3 decoded channels equal the index value);
    # Spark's answer came through a real LZW encode→decode round trip,
    # odd ids interlaced
    "multimodal_gif_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       3 * ((media_id + 7*y + 3*x) % 256)))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       ((media_id + 7*y + 3*x) % 256)
                       * (3*(y*1000000 + x*1000) + 6)))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    # recomputes multimodal_gif_frame_sample's per-frame formula (pixel
    # (mid + 5f + 7y + 3x) % 256, every second frame sampled, weight =
    # original frame index + 1); Spark's answer came through a real
    # animated-GIF encode→frame-decode→sample round trip
    "multimodal_gif_frame_sample": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
                   2 + doc_id % 4 AS nf
            FROM documents
        )
        SELECT media_id,
               CAST(nf AS INT) AS n_frames,
               CAST(len(range(0, nf, 2)) AS INT) AS n_sampled,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   list_sum(list_transform(range(0, h), y ->
                       list_sum(list_transform(range(0, w), x ->
                           3 * ((media_id + 5*f + 7*y + 3*x) % 256)))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   (f + 1) * list_sum(list_transform(range(0, h), y ->
                       list_sum(list_transform(range(0, w), x ->
                           3 * ((media_id + 5*f + 7*y + 3*x) % 256)))))))
                   AS BIGINT) AS frame_weighted
        FROM m
    """,
    # recomputes the MJPEG block formula per sampled frame (each 8×8
    # block constant at (mid + 9f + 11·by + 5·bx) % 256, 64 px per
    # block); Spark's answer came through a real AVI demux (RIFF walk
    # + idx1 cross-check) and a baseline-JPEG decode per sampled frame
    "multimodal_avi_frame_sample": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
                   1 + doc_id % 3 AS nbx, 1 + doc_id % 2 AS nby,
                   2 + doc_id % 4 AS nf
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(nf AS INT) AS n_frames,
               CAST(len(range(0, nf, 2)) AS INT) AS n_sampled,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   64 * list_sum(list_transform(range(0, nby), by ->
                       list_sum(list_transform(range(0, nbx), bx ->
                           (media_id + 9*f + 11*by + 5*bx) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   (f + 1) * 64 * list_sum(list_transform(range(0, nby), by ->
                       list_sum(list_transform(range(0, nbx), bx ->
                           (media_id + 9*f + 11*by + 5*bx) % 256))))))
                   AS BIGINT) AS frame_weighted
        FROM m
    """,
    # same harness as multimodal_avi_frame_sample with the 13·f frame
    # shift; Spark's answer came through the full ISO-BMFF sample-table
    # reconstruction + T.81 decode
    "multimodal_mp4_frame_sample": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
                   1 + doc_id % 3 AS nbx, 1 + doc_id % 2 AS nby,
                   2 + doc_id % 4 AS nf
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(nf AS INT) AS n_frames,
               CAST(len(range(0, nf, 2)) AS INT) AS n_sampled,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   64 * list_sum(list_transform(range(0, nby), by ->
                       list_sum(list_transform(range(0, nbx), bx ->
                           (media_id + 13*f + 11*by + 5*bx) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   (f + 1) * 64 * list_sum(list_transform(range(0, nby), by ->
                       list_sum(list_transform(range(0, nbx), bx ->
                           (media_id + 13*f + 11*by + 5*bx) % 256))))))
                   AS BIGINT) AS frame_weighted
        FROM m
    """,
    # same harness with the 17·f frame shift; Spark's answer came
    # through the EBML walk + SimpleBlock framing + T.81 decode
    "multimodal_mkv_frame_sample": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
                   1 + doc_id % 3 AS nbx, 1 + doc_id % 2 AS nby,
                   2 + doc_id % 4 AS nf
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(nf AS INT) AS n_frames,
               CAST(len(range(0, nf, 2)) AS INT) AS n_sampled,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   64 * list_sum(list_transform(range(0, nby), by ->
                       list_sum(list_transform(range(0, nbx), bx ->
                           (media_id + 17*f + 11*by + 5*bx) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, nf, 2), f ->
                   (f + 1) * 64 * list_sum(list_transform(range(0, nby), by ->
                       list_sum(list_transform(range(0, nbx), bx ->
                           (media_id + 17*f + 11*by + 5*bx) % 256))))))
                   AS BIGINT) AS frame_weighted
        FROM m
    """,
    # identical pixels to multimodal_bmp_decode (QOI is lossless);
    # Spark's answer came through a real QOI op-stream round trip
    # identical pixels again (TIFF is lossless); Spark came through
    # IFD walk + strips + LZW/PackBits decompression
    "multimodal_tiff_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           (media_id + 7*y + 3*x + c) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           ((media_id + 7*y + 3*x + c) % 256)
                           * (y*1000000 + x*1000 + c + 1)))))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    # same two-level tempered normalization in SQL; round(_,6)
    # absorbs cross-engine pow()/sum-order noise like the other
    # float oracles
    "lang_temperature_resample": """
        WITH c AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        ),
        t AS (SELECT SUM(n_docs) AS total FROM c),
        p AS (
            SELECT lang, n_docs,
                   n_docs / total AS p_raw,
                   pow(n_docs / total, 0.3) AS pw
            FROM c CROSS JOIN t
        ),
        z AS (SELECT SUM(pw) AS z FROM p)
        SELECT lang,
               n_docs,
               round(p_raw, 6) AS p_raw,
               round(pw / z, 6) AS p_tempered,
               round((pw / z) / p_raw, 6) AS boost,
               round(pw / z * 10000, 2) AS expected_docs
        FROM p CROSS JOIN z
    """,
    # the SAME messy raw URL built from doc_id, normalized with
    # DuckDB's OWN regex engine (RE2) and list functions — independent
    # string semantics vs Spark's JVM regex
    "url_normalize": r"""
        WITH raw AS (
            SELECT doc_id,
                   (CASE doc_id % 4 WHEN 0 THEN 'HTTP'
                        WHEN 1 THEN 'HtTpS' WHEN 2 THEN 'http'
                        ELSE 'https' END)
                   || '://WWW.Example' || (doc_id % 50) || '.COM'
                   || (CASE doc_id % 4 WHEN 0 THEN ':80'
                        WHEN 1 THEN ':443' WHEN 2 THEN ':8080'
                        ELSE '' END)
                   || '//Dir' || (doc_id % 7) || '//Page/'
                   || '?utm_source=feed&z=' || (doc_id % 5)
                   || '&a=' || (doc_id % 3)
                   || '#sec' || (doc_id % 2) AS url
            FROM documents
        ),
        parts AS (
            SELECT doc_id,
                   lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                       '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                   regexp_replace(regexp_replace(url, '#.*$', ''),
                       '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS after
            FROM raw
        ),
        hp AS (
            SELECT doc_id, scheme,
                   lower(regexp_extract(after, '^([^/?]*)', 1)) AS hostport,
                   regexp_replace(after, '^[^/?]*', '') AS pathq
            FROM parts
        ),
        n AS (
            SELECT doc_id, scheme,
                   CASE WHEN scheme = 'http'
                        THEN regexp_replace(hostport, ':80$', '')
                        WHEN scheme = 'https'
                        THEN regexp_replace(hostport, ':443$', '')
                        ELSE hostport END AS host,
                   CASE WHEN regexp_replace(regexp_replace(
                            regexp_extract(pathq, '^([^?]*)', 1),
                            '/{2,}', '/', 'g'), '(.)/$', '\1') = ''
                        THEN '/'
                        ELSE regexp_replace(regexp_replace(
                            regexp_extract(pathq, '^([^?]*)', 1),
                            '/{2,}', '/', 'g'), '(.)/$', '\1') END AS path,
                   array_to_string(list_sort(list_filter(
                       string_split(regexp_extract(pathq, '\?(.*)$', 1),
                                    '&'),
                       p -> len(p) > 0 AND NOT starts_with(p, 'utm_'))),
                       '&') AS qnorm
            FROM hp
        ),
        built AS (
            SELECT doc_id,
                   scheme || '://' || host || path ||
                   CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END
                       AS url_norm
            FROM n
        )
        SELECT doc_id, url_norm,
               regexp_extract(url_norm,
                   '^[a-z][a-z0-9+.\-]*://([^/?]*)', 1) AS host,
               md5(url_norm) AS digest
        FROM built
    """,
    # original text hashed directly again: Spark's answer went through
    # compress -> decompress with the same C codec
    "compressed_text_roundtrip": """
        SELECT doc_id,
               CASE doc_id % 6 WHEN 0 THEN 'lz4_frame'
                    WHEN 1 THEN 'lz4_block' WHEN 2 THEN 'snappy'
                    WHEN 3 THEN 'zstd' WHEN 4 THEN 'bzip2'
                    ELSE 'lzma' END AS codec,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents
    """,
    # the original text hashed directly: Spark's answer went through
    # zlib.compress -> zlib.decompress at every level
    "deflate_decode_text": """
        SELECT doc_id,
               CAST(doc_id % 10 AS INT) AS level,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents
    """,
    # identical pixels again (VP8L is lossless); Spark came through
    # the full WebP-lossless bitstream with a per-doc transform mix
    "multimodal_webp_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           (media_id + 7*y + 3*x + c) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           ((media_id + 7*y + 3*x + c) % 256)
                           * (y*1000000 + x*1000 + c + 1)))))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    "multimodal_qoi_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           (media_id + 7*y + 3*x + c) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           ((media_id + 7*y + 3*x + c) % 256)
                           * (y*1000000 + x*1000 + c + 1)))))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    "multimodal_bmp_decode": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        )
        SELECT media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           (media_id + 7*y + 3*x + c) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, h), y ->
                   list_sum(list_transform(range(0, w), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           ((media_id + 7*y + 3*x + c) % 256)
                           * (y*1000000 + x*1000 + c + 1)))))))
                   AS BIGINT) AS pos_checksum
        FROM m
    """,
    # u8-PCM read of the ASCII blob: byte == codepoint
    "multimodal_audio_stats": """
        WITH b AS (
            SELECT doc_id AS media_id,
                   list_transform(range(1, length(text) + 1),
                       i -> ascii(substring(text, i, 1))) AS bytes
            FROM documents
        )
        SELECT media_id,
               CAST(len(bytes) AS BIGINT) AS n_samples,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS peak,
               CAST(COALESCE(list_sum(bytes), 0) AS BIGINT) AS amp_sum,
               CAST(CASE WHEN len(bytes) > 0
                    THEN (list_sum(bytes) * 1000) // len(bytes)
                    ELSE 0 END AS BIGINT) AS amp_milli_mean
        FROM b
    """,
    "multimodal_features": """
        SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
               16 AS feature_dim
        FROM documents
    """,
    "multimodal_metadata_stats": """
        SELECT lang AS format, COUNT(*) AS n,
               CAST(SUM(CAST(length(text) AS BIGINT) * 1) AS BIGINT)
               AS total_pixels
        FROM documents GROUP BY lang
    """,
    # nearest-neighbor resize of the 1×len×1 byte grid to 1×64×1:
    # out byte j = blob[j*len // 64]; ASCII text ⇒ byte == codepoint
    "multimodal_resize": """
        SELECT doc_id AS media_id,
               CAST(64 AS INT) AS out_w,
               CAST(1 AS INT) AS out_h,
               CAST(64 AS INT) AS n_bytes,
               CAST(list_sum(list_transform(range(0, 64), j ->
                   ascii(substring(text,
                       CAST(j * length(text) // 64 AS INT) + 1, 1))
               )) AS BIGINT) AS checksum
        FROM documents
    """,
}


def _g711_oracle_sql() -> str:
    """DuckDB twin of multimodal_g711_decode_q: the 256-entry composed
    decode∘encode expansion per law (computed HERE from the same
    public Sun-g711 algorithm, embedded as integer literals — the
    companding is static, no env dependence) applied to the synthesis
    grid. Spark's answer went through the real WAV container + the
    byte-level compander; this recomputes it closed-form."""
    from bazof_spark.operators.g711codec import (
        alaw_decode_sample,
        alaw_encode_sample,
        ulaw_decode_sample,
        ulaw_encode_sample,
    )

    def composed(enc, dec):
        return ", ".join(
            str(dec(enc(257 * k - 32768))) for k in range(256)
        )

    ulut = f"[{composed(ulaw_encode_sample, ulaw_decode_sample)}]"
    alut = f"[{composed(alaw_encode_sample, alaw_decode_sample)}]"
    return f"""
        WITH m AS (
            SELECT doc_id AS media_id, 160 + doc_id % 41 AS n
            FROM documents
        ),
        s AS (
            SELECT media_id, n,
                   list_transform(range(0, n), i -> CASE
                       WHEN media_id % 2 = 0 THEN list_extract({ulut},
                           CAST((media_id + 7*i) % 256 AS INT) + 1)
                       ELSE list_extract({alut},
                           CAST((media_id + 7*i) % 256 AS INT) + 1)
                   END) AS d
            FROM m
        )
        SELECT media_id,
               CAST(n AS BIGINT) AS n_samples,
               CAST(list_sum(d) AS BIGINT) AS dec_sum,
               CAST(list_sum(list_transform(d, x -> abs(x)))
                    AS BIGINT) AS dec_abs_sum,
               CAST(list_max(list_transform(d, x -> abs(x)))
                    AS INT) AS peak,
               CAST(list_sum(list_transform(range(0, n), i ->
                    (i + 1) * list_extract(d, i + 1)))
                    AS BIGINT) AS pos_checksum
        FROM s
    """


_MULTIMODAL_ORACLES["multimodal_g711_decode"] = _g711_oracle_sql()


def _minhash_sig_sql(src: str) -> str:
    return f"""
    SELECT doc_id,
           list_transform(range(0, 32), s ->
               list_min(list_transform({_shingles_sql(3)},
                        x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                             + s * CAST('0x' || substr(md5(x), 16, 14) AS BIGINT)
               ))) AS sig
    FROM {src}
"""


# exact-duplicate pre-collapse mirrored from operators/dedup._collapse_exact:
# one representative (minimum id) per distinct text. All texts in a digest
# group are identical, so MIN(text) == the representative's text.
_REP_DOCS = (
    "(SELECT MIN(doc_id) AS doc_id, MIN(text) AS text "
    "FROM documents GROUP BY md5(text))"
)
# bucket-size cap mirrored from operators/dedup._cap_buckets (default 10000)
_LSH_BUCKET_CAP = 10_000

# shared CTE chain computing the n-gram-heuristic language id (used by
# the text_language_id oracle and the corpus_clean composite)
_LANGID_CTES = r"""m AS (
            SELECT doc_id, text,
                   len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|that)\b')) AS c_en,
                   len(regexp_extract_all(text, '(?i)\b(el|la|de|que|y|los|las|una)\b')) AS c_es,
                   len(regexp_extract_all(text, '(?i)\b(le|la|les|des|une|est|dans|pour)\b')) AS c_fr,
                   len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS c_de
            FROM documents
        ),
        langid AS (
            SELECT doc_id, text,
                   CASE WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de > 0 THEN 'de'
                        WHEN c_en >= c_es AND c_en >= c_fr AND c_en > 0 THEN 'en'
                        WHEN c_es >= c_fr AND c_es > 0 THEN 'es'
                        WHEN c_fr > 0 THEN 'fr'
                        ELSE 'und' END AS lang_pred
            FROM m
        )"""


# shared CTE chain producing simhash near-dup pairs (used by the
# dedup_simhash oracle and as the edge set of dedup_clusters). Mirrors
# operators/dedup.simhash_pairs structurally: exact-dup pre-collapse,
# 16-bit chunk candidate buckets with the bucket-size cap, then exact
# Hamming verification (pigeonhole-complete for all surviving buckets).
_SIMHASH_PAIRS_CTES = f"""h AS (
            SELECT doc_id,
                   list_transform({_shingles_sql(3)},
                       s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))
                       AS hs
            FROM {_REP_DOCS} rep
        ),
        fp AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(0, 60), b ->
                       CASE WHEN 2 * len(list_filter(hs,
                                h -> (h >> b) & 1 = 1)) > len(hs)
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS f
            FROM h
        ),
        chunks AS (
            SELECT doc_id, f, c, (f >> (c * 16)) & 65535 AS cval
            FROM fp, range(0, 4) t(c)
            QUALIFY COUNT(*) OVER (PARTITION BY c, cval) <= {_LSH_BUCKET_CAP}
        ),
        sim_cand AS (
            SELECT DISTINCT a.doc_id AS id_a, a.f AS fa,
                            b.doc_id AS id_b, b.f AS fb
            FROM chunks a
            JOIN chunks b ON a.c = b.c AND a.cval = b.cval
                         AND a.doc_id < b.doc_id
        ),
        sim_pairs AS (
            SELECT id_a, id_b,
                   CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
            FROM sim_cand
            WHERE bit_count(xor(fa, fb)) <= 3
        )"""


_PIPELINE_ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS digest, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    # source-priority dedup over the synthesized two-tier corpus:
    # winner = min (priority rank, doc_id); curated=0, src5=1,
    # everything else 2 — mirrors the priority list in the Spark query
    "dedup_source_priority": """
        WITH corpus AS (
            SELECT doc_id, text, source FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text,
                   CASE WHEN doc_id % 3 = 0 THEN 'curated'
                        ELSE 'webclone' END
            FROM documents
        ),
        r AS (
            SELECT md5(text) AS digest, doc_id, source,
                   CASE source WHEN 'curated' THEN 0
                               WHEN 'src5' THEN 1 ELSE 2 END AS pr
            FROM corpus
        ),
        w AS (
            SELECT digest, doc_id AS keep_id, source AS keep_source,
                   row_number() OVER (
                       PARTITION BY digest ORDER BY pr, doc_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY digest) AS n_copies
            FROM r
        )
        SELECT digest, keep_id, keep_source,
               CAST(n_copies AS BIGINT) AS n_copies
        FROM w WHERE rn = 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS (
            SELECT DISTINCT doc_id AS id, s FROM (
                SELECT doc_id, unnest({_shingles_sql(3)}) AS s FROM documents
            )
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        freq_ok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
        pr AS (SELECT sh.id, sh.s FROM sh JOIN freq_ok USING (s)),
        shared AS (
            SELECT l.id AS id_a, r.id AS id_b, COUNT(*) AS c
            FROM pr l JOIN pr r ON l.s = r.s AND l.id < r.id
            GROUP BY l.id, r.id
        )
        SELECT id_a, id_b,
               round(c / (na.n + nb.n - c), 6) AS jaccard
        FROM shared
        JOIN sizes na ON na.id = id_a
        JOIN sizes nb ON nb.id = id_b
        WHERE c / (na.n + nb.n - c) >= 0.5
    """,
    "dedup_minhash_lsh": f"""
        WITH sig AS ({_minhash_sig_sql(_REP_DOCS + " rep")}),
        bands AS (
            SELECT doc_id, b,
                   md5(array_to_string(list_transform(
                       sig[b*4+1:b*4+4], v -> CAST(v AS VARCHAR)), '|')) AS bhash
            FROM sig, range(0, 8) t(b)
            QUALIFY COUNT(*) OVER (PARTITION BY b, bhash) <= {_LSH_BUCKET_CAP}
        ),
        cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM bands l
            JOIN bands r ON l.b = r.b AND l.bhash = r.bhash
                        AND l.doc_id < r.doc_id
        ),
        est AS (
            SELECT id_a, id_b,
                   len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0
                       AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
        )
        SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """,
    "text_stats": r"""
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]')) AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS n_words,
               length(text) AS n_chars_computed,
               round(CASE WHEN length(text) > 0
                     THEN len(regexp_extract_all(text, '[^\sA-Za-z0-9_]')) / length(text)
                     ELSE 0.0 END, 6) AS punct_ratio,
               round(CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9_]+')) > 0
                     THEN len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|that)\b'))
                          / len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                     ELSE 0.0 END, 6) AS stopword_ratio
        FROM documents
    """,
    "text_quality": r"""
        WITH m AS (
            SELECT doc_id,
                   length(text) AS n,
                   len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS words,
                   len(regexp_extract_all(text, '[^\sA-Za-z0-9_]')) AS punct,
                   len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|that)\b')) AS stops,
                   len(regexp_extract_all(text, '[A-Za-z0-9_]')) AS letters
            FROM documents
        )
        SELECT doc_id,
               round(
                 least(n / 500.0, 1.0) * 0.4
                 + greatest(0.0, 1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0.0 END) * 4.0) * 0.3
                 + least((CASE WHEN words > 0 THEN stops / words ELSE 0.0 END) * 5.0, 1.0) * 0.2
                 + (CASE WHEN words > 0 AND letters / words >= 3.0
                          AND letters / words <= 10.0
                     THEN 1.0 ELSE 0.5 END) * 0.1
               , 6) AS quality
        FROM m
    """,
    "text_language_id": f"""
        WITH {_LANGID_CTES}
        SELECT doc_id, lang_pred FROM langid
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               list_min(list_transform({_shingles_sql(5)}, s -> md5(s)))
                   AS fingerprint
        FROM documents
    """,
    "embedding_cosine_topk": """
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 10
        ),
        c AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ),
        s AS (
            SELECT qid, cid, list_cosine_similarity(qv, cv) AS sim
            FROM q, c WHERE qid != cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id,
               CAST(rn AS INT) AS rank, round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= 5
    """,
    "knn_label_vote": """
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
                   label AS true_label
            FROM embeddings WHERE vec_id < 50
        ),
        c AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv, label
            FROM embeddings
        ),
        s AS (
            SELECT qid, cid, label, list_cosine_similarity(qv, cv) AS sim
            FROM q, c WHERE qid != cid
        ),
        r AS (
            SELECT qid, label, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        ),
        v AS (
            SELECT qid, label, count(*) AS votes
            FROM r WHERE rn <= 10 GROUP BY qid, label
        ),
        p AS (
            SELECT qid, label, votes, row_number() OVER (
                PARTITION BY qid ORDER BY votes DESC, label
            ) AS pr FROM v
        )
        SELECT p.qid AS query_id, p.label AS pred_label, p.votes,
               q.true_label,
               CAST(p.label = q.true_label AS INT) AS correct
        FROM p JOIN q ON p.qid = q.qid WHERE pr = 1
    """,
    "embedding_neardup": """
        SELECT id_a, id_b, round(sim, 6) AS cosine_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) AS sim
            FROM embeddings a
            JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE sim >= 0.3
    """,
    # int8 quantization: q_i = floor(v_i * 127/max|v| + 0.5) — IEEE
    # double multiply + floor, bit-identical across engines
    "embedding_quantize": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        s AS (
            SELECT vec_id, v,
                   CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                        THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                        ELSE 0.0 END AS scale
            FROM e
        ),
        q AS (
            SELECT vec_id, scale,
                   list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INT))
                       AS qv
            FROM s
        )
        SELECT vec_id,
               CAST(floor(scale * 1e6) AS BIGINT) AS scale_micro,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
               CAST(list_max(qv) AS INT) AS q_max
        FROM q
    """,
    # simhash: md5-60-bit shingle hashes (operators/dedup.simhash64) are
    # computable bit-identically here; banding with 4 bands is recall-
    # complete at hamming <= 3 (pigeonhole), so Spark == brute force.
    "dedup_simhash": f"""
        WITH {_SIMHASH_PAIRS_CTES}
        SELECT id_a, id_b, hamming FROM sim_pairs
    """,
    # cross-table LSH: same signatures/banding as dedup_minhash_lsh,
    # probe (id < 25) joined against corpus (id >= 25). No collapse/cap
    # CTEs here: the Spark operator's guards default OFF for the
    # cross-table case (probe-broadcast join — no quadratic path).
    "decontamination": f"""
        WITH sig AS ({_minhash_sig_sql("documents")}),
        bands AS (
            SELECT doc_id, b,
                   md5(array_to_string(list_transform(
                       sig[b*4+1:b*4+4], v -> CAST(v AS VARCHAR)), '|')) AS bhash
            FROM sig, range(0, 8) t(b)
        ),
        cand AS (
            SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS corpus_id
            FROM bands p
            JOIN bands c ON p.b = c.b AND p.bhash = c.bhash
            WHERE p.doc_id < 25 AND c.doc_id >= 25
        ),
        est AS (
            SELECT probe_id, corpus_id,
                   len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
                       / 32.0 AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = probe_id
            JOIN sig sb ON sb.doc_id = corpus_id
        )
        SELECT probe_id, corpus_id, est_jaccard
        FROM est WHERE est_jaccard >= 0.5
    """,
    # Okapi BM25 with the same constants; ln/arithmetic in IEEE double
    "bm25_search": r"""
        WITH w AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t
            FROM documents
        ),
        dl AS (SELECT id, COUNT(*) AS dln FROM w GROUP BY id),
        st AS (SELECT COUNT(*) AS n, AVG(dln) AS avgdl FROM dl),
        tf AS (
            SELECT id, t, COUNT(*) AS tfreq FROM w
            WHERE t IN ('merge', 'scan', 'hash') GROUP BY id, t
        ),
        dfq AS (SELECT t, COUNT(*) AS dfreq FROM tf GROUP BY t),
        s AS (
            SELECT tf.id,
                   ln((st.n - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5) + 1.0)
                   * (tf.tfreq * 2.2)
                   / (tf.tfreq + 1.2 * (0.25 + 0.75 * dl.dln / st.avgdl))
                       AS sc
            FROM tf JOIN dfq USING (t) JOIN dl USING (id) CROSS JOIN st
        )
        SELECT id AS doc_id, round(SUM(sc), 6) AS score,
               COUNT(*) AS n_matched
        FROM s GROUP BY id
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
    # composed cleaning pipeline: same langid CTEs + digest window
    "corpus_clean": f"""
        WITH {_LANGID_CTES},
        t AS (
            SELECT doc_id, lang_pred,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                        AS BIGINT) AS n_words,
                   md5(text) AS digest
            FROM langid
        ),
        r AS (
            SELECT *, MIN(doc_id) OVER (PARTITION BY digest) AS keep_id
            FROM t
        )
        SELECT doc_id, lang_pred, n_words
        FROM r
        WHERE doc_id = keep_id AND lang_pred = 'en'
          AND n_words BETWEEN 20 AND 1000
    """,
    # shard-local concat-and-chunk packing: identical hash-shard +
    # window cumsum + integer division, recomputed exactly
    "sequence_packing": r"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                        AS BIGINT) AS n_tokens,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || 'pack'), 1, 15) AS BIGINT) % 8 AS INT) AS shard
            FROM documents
        ),
        o AS (
            SELECT doc_id, shard, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY shard
                        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
            FROM d
        )
        SELECT doc_id, shard, n_tokens, tok_offset,
               CAST(tok_offset // 512 AS BIGINT) AS start_seq,
               CAST((tok_offset + greatest(n_tokens, 1) - 1) // 512
                    AS BIGINT) AS end_seq
        FROM o
    """,
    # the SAME decomposed suffix built with chr() codepoints, then
    # DuckDB's OWN normalizer (utf8proc) — independent implementation
    # of the Unicode composition tables vs Spark's CPython unicodedata
    "text_nfc_normalize": """
        WITH a AS (
            SELECT doc_id,
                   text || ' ' || repeat(
                       list_extract(
                           ['e' || chr(769), 'A' || chr(778),
                            'o' || chr(776), 'n' || chr(771)],
                           CAST(doc_id % 4 AS INT) + 1),
                       CAST(doc_id % 3 AS INT) + 1) AS raw
            FROM documents
        ),
        n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nrm FROM a)
        SELECT doc_id,
               CAST(length(raw) AS INT) AS len_raw,
               CAST(length(nrm) AS INT) AS len_nfc,
               CAST(length(raw) > length(nrm) AS INT) AS changed,
               md5(nrm) AS digest
        FROM n
    """,
    # identity-hash split/sample buckets recomputed from first
    # principles (same md5-60-bit idiom as simhash/minhash)
    "dataset_split": """
        WITH t AS (
            SELECT doc_id, length(text) AS n_chars,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 1000000 AS b,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sample'),
                        1, 15) AS BIGINT) % 1000000 AS bs
            FROM documents
        )
        SELECT CASE WHEN b < 800000 THEN 'train'
                    WHEN b < 900000 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN bs < 250000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled
        FROM t GROUP BY 1
    """,
    # connected components over the simhash pairs: recursive transitive
    # closure; min reachable id == Spark's min-label-propagation fixpoint
    "dedup_clusters": f"""
        WITH RECURSIVE {_SIMHASH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM sim_pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM sim_pairs
        ),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(id, lbl) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (
            SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_rep
            FROM reach GROUP BY id
        ),
        sz AS (
            SELECT cluster_rep, COUNT(*) AS cluster_size
            FROM comp GROUP BY cluster_rep
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, cluster_rep, cluster_size
        FROM comp JOIN sz USING (cluster_rep)
    """,
    # full dedup pipeline: exact groups + simhash components over the
    # reps + re-expansion; the recursive closure mirrors dedup_clusters
    "dedup_end_to_end": f"""
        WITH RECURSIVE {_SIMHASH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM sim_pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM sim_pairs
        ),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(id, lbl) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (
            SELECT id AS rep, CAST(MIN(lbl) AS BIGINT) AS cluster_rep
            FROM reach GROUP BY id
        ),
        groups AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
            FROM documents
        )
        SELECT g.doc_id,
               COALESCE(c.cluster_rep, g.rep_id) AS final_rep,
               CAST(g.doc_id = COALESCE(c.cluster_rep, g.rep_id) AS INT)
                   AS is_kept
        FROM groups g LEFT JOIN comp c ON c.rep = g.rep_id
    """,
    # IVF with the deterministic quantizer of embedding_ann_ivf_q:
    # centroid list l = embedding vec_id=l (l < 16); corpus vec → its
    # nearest list (cosine, ties → lower list id, matching numpy's
    # stable argsort); query probes its 4 nearest lists.
    "embedding_ann_ivf": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        cent AS (SELECT vec_id AS lid, v AS cvv FROM e WHERE vec_id < 16),
        ca AS (
            SELECT vec_id AS cid, v AS cv, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent
        ),
        assign AS (SELECT cid, cv, lid FROM ca WHERE rn = 1),
        qp AS (
            SELECT vec_id AS qid, v AS qv, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent WHERE vec_id < 10
        ),
        probe AS (SELECT qid, qv, lid FROM qp WHERE rn <= 4),
        s AS (
            SELECT qid, cid, list_cosine_similarity(qv, cv) AS sim
            FROM probe JOIN assign USING (lid)
            WHERE qid != cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= 5
    """,
}


def _lsh_oracle_sql(
    dim: int = 64, n_bits: int = 8, n_tables: int = 4, seed: int = 7, k: int = 5
) -> str:
    """Build the DuckDB twin of operators/similarity.lsh_ann_topk: the
    SAME seeded hyperplanes (sign bits are scale-invariant, so bucketing
    the raw embeddings here equals bucketing the normalized ones there)
    embedded as float64 literals, then bucket-join + exact re-rank."""
    import numpy as np  # noqa: F401  (env-guaranteed)

    from bazof_spark.operators.similarity import _hyperplanes

    selects = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, seed + t)
        terms = []
        for b in range(n_bits):
            lits = ", ".join(repr(float(x)) for x in planes[b])
            terms.append(
                f"CASE WHEN list_dot_product(v, [{lits}]) >= 0 "
                f"THEN {1 << b} ELSE 0 END"
            )
        bucket = " + ".join(terms)
        selects.append(f"SELECT vec_id, v, {t} AS tbl, ({bucket}) AS bkt FROM e")
    bk = " UNION ALL ".join(selects)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        bk AS ({bk}),
        cand AS (
            SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
            FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bkt = c.bkt
            WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
        ),
        s AS (
            SELECT qid, cid, list_cosine_similarity(eq.v, ec.v) AS sim
            FROM cand
            JOIN e eq ON eq.vec_id = cand.qid
            JOIN e ec ON ec.vec_id = cand.cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= {k}
    """


# flat SQ8: quantize each corpus vector with the embedding_quantize
# formula (floor-based rounding — reproducible across engines), then
# cosine between the float query and the INTEGER codes (the per-row
# scale cancels out of cosine, see operators/similarity.sq8_topk)
# the cascade composes FOUR verified formulas: the langid CTE, the
# gopher conjunction, the md5-window dedup and the quality threshold —
# first failing stage per doc, in pipeline order
_PIPELINE_ORACLES["filter_cascade"] = f"""
    WITH {_LANGID_CTES},
    g AS (
        SELECT doc_id,
               length(text) AS n,
               len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS words,
               len(regexp_extract_all(text, '[^\\sA-Za-z0-9_]')) AS punct,
               len(regexp_extract_all(text,
                   '(?i)\\b(the|and|of|to|a|in|is|that)\\b')) AS stops,
               len(regexp_extract_all(text, '[A-Za-z0-9_]')) AS letters,
               CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) > 0
                    THEN 1.0
                         - len(list_distinct(regexp_split_to_array(
                               trim(text), '\\s+'))) * 1.0
                           / len(regexp_split_to_array(trim(text), '\\s+'))
                    ELSE 0.0 END AS rep,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               COALESCE((SELECT lang_pred FROM langid l
                 WHERE l.doc_id = g.doc_id) = 'en', FALSE) AS lang_ok,
               COALESCE(words >= 20 AND words <= 1000
                AND words > 0 AND letters * 1.0 / words >= 3.0
                           AND letters * 1.0 / words <= 10.0
                AND n > 0 AND punct * 1.0 / n <= 0.2
                AND stops >= 2 AND rep <= 0.4, FALSE) AS gopher_ok,
               COALESCE(doc_id = rep_id, FALSE) AS dedup_ok,
               COALESCE(round(
                 least(n / 500.0, 1.0) * 0.4
                 + greatest(0.0, 1.0 - (CASE WHEN n > 0
                       THEN punct * 1.0 / n ELSE 0.0 END) * 4.0) * 0.3
                 + least((CASE WHEN words > 0
                       THEN stops * 1.0 / words ELSE 0.0 END) * 5.0,
                       1.0) * 0.2
                 + (CASE WHEN words > 0 AND letters * 1.0 / words >= 3.0
                          AND letters * 1.0 / words <= 10.0
                     THEN 1.0 ELSE 0.5 END) * 0.1
               , 6) >= 0.5, FALSE) AS quality_ok
        FROM g
    )
    SELECT doc_id,
           CASE WHEN NOT lang_ok THEN 'langid'
                WHEN NOT gopher_ok THEN 'gopher'
                WHEN NOT dedup_ok THEN 'dedup'
                WHEN NOT quality_ok THEN 'quality'
                ELSE 'kept' END AS first_failed,
           CAST(lang_ok AND gopher_ok AND dedup_ok AND quality_ok
                AS INT) AS keep
    FROM s
"""

_PIPELINE_ORACLES["embedding_ann_sq8"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                    ELSE 0.0 END AS scale
        FROM e
    ),
    qz AS (
        SELECT vec_id AS cid,
               list_transform(v, x -> floor(x * scale + 0.5)) AS cq
        FROM s
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    sc AS (
        SELECT qid, cid, list_cosine_similarity(qv, cq) AS sim
        FROM q, qz WHERE qid != cid
    ),
    r AS (
        SELECT qid, cid, sim, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid
        ) AS rn FROM sc
    )
    SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
           round(sim, 6) AS cosine_sim
    FROM r WHERE rn <= 5
"""

_PIPELINE_ORACLES["embedding_ann_lsh"] = _lsh_oracle_sql()
# recall@5 of the LSH index vs the exact top-5: both rankings are the
# EXISTING oracle texts, composed as CTE subqueries — one source of
# truth per ranking
_PIPELINE_ORACLES["ann_recall_lsh"] = f"""
    WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
    ann_r AS ({_PIPELINE_ORACLES["embedding_ann_lsh"]}),
    m AS (
        SELECT e.query_id, count(*) AS n_matched
          FROM exact_r e JOIN ann_r a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.query_id
    ),
    ex AS (SELECT query_id, count(*) AS n_exact FROM exact_r GROUP BY query_id)
    SELECT ex.query_id,
           ex.n_exact,
           coalesce(m.n_matched, 0) AS n_matched,
           round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN m USING (query_id)
"""

_PIPELINE_ORACLES["ann_recall_sq8"] = f"""
    WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
    ann_r AS ({_PIPELINE_ORACLES["embedding_ann_sq8"]}),
    m AS (
        SELECT e.query_id, count(*) AS n_matched
          FROM exact_r e JOIN ann_r a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.query_id
    ),
    ex AS (SELECT query_id, count(*) AS n_exact FROM exact_r GROUP BY query_id)
    SELECT ex.query_id,
           ex.n_exact,
           coalesce(m.n_matched, 0) AS n_matched,
           round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN m USING (query_id)
"""

# same composition for the IVF index — the two standard ANN scale
# paths get symmetrical, cross-engine-verified recall harnesses
_PIPELINE_ORACLES["ann_recall_ivf"] = f"""
    WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
    ann_r AS ({_PIPELINE_ORACLES["embedding_ann_ivf"]}),
    m AS (
        SELECT e.query_id, count(*) AS n_matched
          FROM exact_r e JOIN ann_r a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.query_id
    ),
    ex AS (SELECT query_id, count(*) AS n_exact FROM exact_r GROUP BY query_id)
    SELECT ex.query_id,
           ex.n_exact,
           coalesce(m.n_matched, 0) AS n_matched,
           round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN m USING (query_id)
"""


def _ivf_trained_oracle_sql(
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 13,
    sample_rows: int = 256,
    k: int = 5,
) -> str | None:
    """DuckDB twin of embedding_ann_ivf_trained_q: re-derive the SAME
    centroids the Spark query trains — identical sample (the
    `sample_rows` lowest vec_ids, read here via DuckDB instead of a
    Spark top-k) through the identical `_lloyd_kmeans` numpy code —
    and embed them as float64 literals (repr() round-trips doubles
    exactly). The comparison therefore verifies the trained path
    end-to-end. The sample is read from the sf dir the parity harness
    targets ($BAZOF_PARITY_SF; default sf0.01 = the driver's
    correctness scale). Returns None (→ rows-only check) if the
    parquet is unavailable at oracle-build time."""
    import duckdb
    import numpy as np

    from bazof_spark.operators.similarity import _lloyd_kmeans

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    cent = _lloyd_kmeans(
        np.array([r[0] for r in rows], dtype=np.float64), n_lists, seed
    )
    vals = ", ".join(
        f"({lid}, [{', '.join(repr(float(x)) for x in vec)}]::DOUBLE[])"
        for lid, vec in enumerate(cent)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        cent AS (SELECT * FROM (VALUES {vals}) t(lid, cvv)),
        ca AS (
            SELECT vec_id AS cid, v AS cv, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent
        ),
        assign AS (SELECT cid, cv, lid FROM ca WHERE rn = 1),
        qp AS (
            SELECT vec_id AS qid, v AS qv, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent WHERE vec_id < 10
        ),
        probe AS (SELECT qid, qv, lid FROM qp WHERE rn <= {n_probe}),
        s AS (
            SELECT qid, cid, list_cosine_similarity(qv, cv) AS sim
            FROM probe JOIN assign USING (lid)
            WHERE qid != cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= {k}
    """


_ivf_trained_sql = _ivf_trained_oracle_sql()
if _ivf_trained_sql is not None:
    _PIPELINE_ORACLES["embedding_ann_ivf_trained"] = _ivf_trained_sql


def _pq_trained_oracle_sql(
    m_subs: int = 8,
    n_codes: int = 16,
    seed: int = 29,
    sample_rows: int = 256,
    k: int = 5,
    rerank: int = 20,
) -> str | None:
    """DuckDB twin of embedding_ann_pq_trained_q: re-derive the SAME
    codebooks the Spark query trains — identical sample (the
    `sample_rows` lowest vec_ids, unit-normalized) through the
    identical per-subspace `_lloyd_kmeans_l2` numpy trainer — and embed
    them as (m, code, cv) literals (repr() round-trips doubles
    exactly). Encode/LUT/ADC/re-rank then mirror the fixed-slice PQ
    oracle with the literal codebooks in place of the slice CTE.
    Returns None (→ rows-only check) if the parquet is unavailable at
    oracle-build time."""
    import duckdb
    import numpy as np

    from bazof_spark.operators.similarity import _lloyd_kmeans_l2

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m_subs:
        return None
    sub = dim // m_subs
    subvecs = x.reshape(len(x), m_subs, sub)
    cb = np.stack(
        [
            _lloyd_kmeans_l2(subvecs[:, m, :], n_codes, seed + m)
            for m in range(m_subs)
        ]
    )
    vals = ", ".join(
        f"({m}, {j}, [{', '.join(repr(float(v)) for v in cb[m, j])}]::DOUBLE[])"
        for m in range(m_subs)
        for j in range(n_codes)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
        ),
        n AS (
            SELECT vec_id,
                   list_transform(raw, x -> x * (1.0 / greatest(
                       sqrt(list_dot_product(raw, raw)), 1e-12))) AS v
            FROM e
        ),
        cb AS (SELECT * FROM (VALUES {vals}) t(m, code, cv)),
        enc AS (
            SELECT vec_id, m, code FROM (
                SELECT n.vec_id, cb.m, cb.code,
                       row_number() OVER (PARTITION BY n.vec_id, cb.m
                           ORDER BY list_distance(
                               n.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv
                           ) ASC, cb.code ASC
                       ) AS rn
                FROM n CROSS JOIN cb
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS qid, cb.m, cb.code,
                   list_dot_product(
                       q.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv) AS part
            FROM n q CROSS JOIN cb WHERE q.vec_id < 10
        ),
        approx AS (
            SELECT l.qid, enc.vec_id AS cid, round(SUM(l.part), 6) AS asim
            FROM enc JOIN lut l ON l.m = enc.m AND l.code = enc.code
            WHERE l.qid != enc.vec_id
            GROUP BY l.qid, enc.vec_id
        ),
        cand AS (
            SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY asim DESC, cid
                ) AS rn FROM approx
            ) WHERE rn <= {rerank}
        ),
        s AS (
            SELECT cand.qid, cand.cid,
                   list_cosine_similarity(eq.raw, ec.raw) AS sim
            FROM cand
            JOIN e eq ON eq.vec_id = cand.qid
            JOIN e ec ON ec.vec_id = cand.cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= {k}
    """


def _opq_oracle_sql(
    m_subs: int = 8,
    n_codes: int = 16,
    seed: int = 29,
    sample_rows: int = 256,
    iters: int = 8,
    k: int = 5,
    rerank: int = 20,
) -> str | None:
    """DuckDB twin of embedding_ann_opq_q: re-derive the SAME
    (rotation, codebooks) the Spark query trains — identical bounded
    sample through the identical numpy OPQ alternation
    (similarity.opq_rotation_codebooks_from_sample) — and embed the
    rotation's COLUMNS (Rᵀ rows) as one DOUBLE[][] literal next to the
    (m, code, cv) codebook literals. Encode and query LUTs run over
    the rotated vectors; the exact re-rank scores the ORIGINAL vectors
    (orthogonal rotation preserves cosine — same contract as Spark).
    Returns None (→ rows-only check) when the parquet is unavailable."""
    import duckdb
    import numpy as np

    from bazof_spark.operators.similarity import (
        opq_rotation_codebooks_from_sample,
    )

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m_subs:
        return None
    sub = dim // m_subs
    rot, cb = opq_rotation_codebooks_from_sample(
        x, m_subs=m_subs, n_codes=n_codes, seed=seed, iters=iters
    )
    # rotated[j] = <v, R[:, j]> — embed Rᵀ so row j IS column j
    rt_lit = "[" + ", ".join(
        "[" + ", ".join(repr(float(v)) for v in rot[:, j]) + "]::DOUBLE[]"
        for j in range(dim)
    ) + "]"
    vals = ", ".join(
        f"({m}, {j}, [{', '.join(repr(float(v)) for v in cb[m, j])}]::DOUBLE[])"
        for m in range(m_subs)
        for j in range(n_codes)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
        ),
        n AS (
            SELECT vec_id,
                   list_transform(raw, x -> x * (1.0 / greatest(
                       sqrt(list_dot_product(raw, raw)), 1e-12))) AS nv
            FROM e
        ),
        rt AS (SELECT {rt_lit} AS m),
        rv AS (
            SELECT n.vec_id,
                   list_transform(range(1, {dim + 1}),
                       j -> list_dot_product(n.nv, rt.m[j])) AS v
            FROM n CROSS JOIN rt
        ),
        cb AS (SELECT * FROM (VALUES {vals}) t(m, code, cv)),
        enc AS (
            SELECT vec_id, m, code FROM (
                SELECT rv.vec_id, cb.m, cb.code,
                       row_number() OVER (PARTITION BY rv.vec_id, cb.m
                           ORDER BY list_distance(
                               rv.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv
                           ) ASC, cb.code ASC
                       ) AS rn
                FROM rv CROSS JOIN cb
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS qid, cb.m, cb.code,
                   list_dot_product(
                       q.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv) AS part
            FROM rv q CROSS JOIN cb WHERE q.vec_id < 10
        ),
        approx AS (
            SELECT l.qid, enc.vec_id AS cid, round(SUM(l.part), 6) AS asim
            FROM enc JOIN lut l ON l.m = enc.m AND l.code = enc.code
            WHERE l.qid != enc.vec_id
            GROUP BY l.qid, enc.vec_id
        ),
        cand AS (
            SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY asim DESC, cid
                ) AS rn FROM approx
            ) WHERE rn <= {rerank}
        ),
        s AS (
            SELECT cand.qid, cand.cid,
                   list_cosine_similarity(eq.raw, ec.raw) AS sim
            FROM cand
            JOIN e eq ON eq.vec_id = cand.qid
            JOIN e ec ON ec.vec_id = cand.cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= {k}
    """


def _pq_trained_recall_sql(pq_sql: str) -> str:
    return f"""
        WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
        ann_r AS ({pq_sql}),
        m AS (
            SELECT e.query_id, count(*) AS n_matched
              FROM exact_r e JOIN ann_r a
                ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             GROUP BY e.query_id
        ),
        ex AS (
            SELECT query_id, count(*) AS n_exact FROM exact_r
            GROUP BY query_id
        )
        SELECT ex.query_id,
               ex.n_exact,
               coalesce(m.n_matched, 0) AS n_matched,
               round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
          FROM ex LEFT JOIN m USING (query_id)
    """


def _ivfpq_trained_oracle_sql(
    n_lists: int = 16,
    n_probe: int = 4,
    cent_seed: int = 13,
    m_subs: int = 8,
    n_codes: int = 16,
    cb_seed: int = 29,
    sample_rows: int = 256,
    k: int = 5,
    rerank: int = 20,
) -> str | None:
    """DuckDB twin of embedding_ann_ivfpq_trained_q: BOTH training
    stages (spherical k-means coarse centroids + per-subspace L2
    k-means codebooks) re-derived in numpy from the same bounded
    parquet sample and embedded as literals; assignment/probe then
    mirror the trained-IVF oracle and encode/LUT/ADC/re-rank mirror
    the trained-PQ oracle, composed the way the fixed-slice IVFPQ
    oracle composes its parents."""
    import duckdb
    import numpy as np

    from bazof_spark.operators.similarity import (
        _lloyd_kmeans,
        _lloyd_kmeans_l2,
    )

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    raw = np.array([r[0] for r in rows], dtype=np.float64)
    cent = _lloyd_kmeans(raw, n_lists, cent_seed)
    x = raw / np.maximum(np.linalg.norm(raw, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m_subs:
        return None
    sub = dim // m_subs
    subvecs = x.reshape(len(x), m_subs, sub)
    cb = np.stack(
        [
            _lloyd_kmeans_l2(subvecs[:, m, :], n_codes, cb_seed + m)
            for m in range(m_subs)
        ]
    )
    cent_vals = ", ".join(
        f"({lid}, [{', '.join(repr(float(v)) for v in vec)}]::DOUBLE[])"
        for lid, vec in enumerate(cent)
    )
    cb_vals = ", ".join(
        f"({m}, {j}, [{', '.join(repr(float(v)) for v in cb[m, j])}]::DOUBLE[])"
        for m in range(m_subs)
        for j in range(n_codes)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
        ),
        n AS (
            SELECT vec_id,
                   list_transform(raw, x -> x * (1.0 / greatest(
                       sqrt(list_dot_product(raw, raw)), 1e-12))) AS v
            FROM e
        ),
        cent AS (SELECT * FROM (VALUES {cent_vals}) t(lid, cvv)),
        ca AS (
            SELECT vec_id AS cid, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent
        ),
        assign AS (SELECT cid, lid FROM ca WHERE rn = 1),
        qp AS (
            SELECT vec_id AS qid, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent WHERE vec_id < 10
        ),
        probe AS (SELECT qid, lid FROM qp WHERE rn <= {n_probe}),
        cb AS (SELECT * FROM (VALUES {cb_vals}) t(m, code, cv)),
        enc AS (
            SELECT vec_id, m, code FROM (
                SELECT n.vec_id, cb.m, cb.code,
                       row_number() OVER (PARTITION BY n.vec_id, cb.m
                           ORDER BY list_distance(
                               n.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv
                           ) ASC, cb.code ASC
                       ) AS rn
                FROM n CROSS JOIN cb
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS qid, cb.m, cb.code,
                   list_dot_product(
                       q.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv) AS part
            FROM n q CROSS JOIN cb WHERE q.vec_id < 10
        ),
        approx AS (
            SELECT p.qid, enc.vec_id AS cid, round(SUM(l.part), 6) AS asim
            FROM enc
            JOIN assign a ON a.cid = enc.vec_id
            JOIN probe p ON p.lid = a.lid
            JOIN lut l ON l.qid = p.qid AND l.m = enc.m AND l.code = enc.code
            WHERE p.qid != enc.vec_id
            GROUP BY p.qid, enc.vec_id
        ),
        cand AS (
            SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY asim DESC, cid
                ) AS rn FROM approx
            ) WHERE rn <= {rerank}
        ),
        s AS (
            SELECT cand.qid, cand.cid,
                   list_cosine_similarity(eq.raw, ec.raw) AS sim
            FROM cand
            JOIN e eq ON eq.vec_id = cand.qid
            JOIN e ec ON ec.vec_id = cand.cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= {k}
    """


def _ivfpq_residual_trained_oracle_sql(
    n_lists: int = 16,
    n_probe: int = 4,
    cent_seed: int = 13,
    m_subs: int = 8,
    n_codes: int = 16,
    cb_seed: int = 31,
    sample_rows: int = 256,
    k: int = 5,
    rerank: int = 20,
) -> str | None:
    """DuckDB twin of embedding_ann_ivfpq_residual_trained_q: coarse
    centroids (spherical k-means) AND residual codebooks (per-subspace
    L2 k-means on residuals, _residual_codebooks_from_sample — the SAME
    numpy the Spark trainer calls) re-derived from the same bounded
    parquet sample and embedded as literals. Centroid literals are the
    NORMALIZED vectors because residual r = v_norm − cent_norm and the
    ADC bias q·cent_norm need the normalized values (cosine ranking is
    scale-invariant, so assignment/probe are unchanged by this)."""
    import duckdb
    import numpy as np

    from bazof_spark.operators.similarity import (
        _lloyd_kmeans,
        _residual_codebooks_from_sample,
    )

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    raw = np.array([r[0] for r in rows], dtype=np.float64)
    dim = raw.shape[1]
    if dim % m_subs:
        return None
    sub = dim // m_subs
    cent = _lloyd_kmeans(raw, n_lists, cent_seed)
    cent = cent / np.maximum(
        np.linalg.norm(cent, axis=1, keepdims=True), 1e-12
    )
    cb = _residual_codebooks_from_sample(raw, cent, m_subs, n_codes, cb_seed)
    cent_vals = ", ".join(
        f"({lid}, [{', '.join(repr(float(v)) for v in vec)}]::DOUBLE[])"
        for lid, vec in enumerate(cent)
    )
    cb_vals = ", ".join(
        f"({m}, {j}, [{', '.join(repr(float(v)) for v in cb[m, j])}]::DOUBLE[])"
        for m in range(m_subs)
        for j in range(n_codes)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
        ),
        n AS (
            SELECT vec_id,
                   list_transform(raw, x -> x * (1.0 / greatest(
                       sqrt(list_dot_product(raw, raw)), 1e-12))) AS v
            FROM e
        ),
        cent AS (SELECT * FROM (VALUES {cent_vals}) t(lid, cvv)),
        ca AS (
            SELECT vec_id AS cid, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent
        ),
        assign AS (SELECT cid, lid FROM ca WHERE rn = 1),
        res AS (
            SELECT nn.vec_id, a.lid,
                   list_transform(range(1, {dim + 1}),
                                  i -> nn.v[i] - c.cvv[i]) AS r
            FROM n nn
            JOIN assign a ON a.cid = nn.vec_id
            JOIN cent c ON c.lid = a.lid
        ),
        cb AS (SELECT * FROM (VALUES {cb_vals}) t(m, code, cv)),
        enc AS (
            SELECT vec_id, m, code FROM (
                SELECT res.vec_id, cb.m, cb.code,
                       row_number() OVER (PARTITION BY res.vec_id, cb.m
                           ORDER BY list_distance(
                               res.r[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv
                           ) ASC, cb.code ASC
                       ) AS rn
                FROM res CROSS JOIN cb
            ) WHERE rn = 1
        ),
        qp AS (
            SELECT vec_id AS qid, lid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
                   ) AS rn
            FROM e CROSS JOIN cent WHERE vec_id < 10
        ),
        probe AS (SELECT qid, lid FROM qp WHERE rn <= {n_probe}),
        biases AS (
            SELECT p.qid, p.lid, list_dot_product(qn.v, c.cvv) AS bias
            FROM probe p
            JOIN n qn ON qn.vec_id = p.qid
            JOIN cent c ON c.lid = p.lid
        ),
        lut AS (
            SELECT q.vec_id AS qid, cb.m, cb.code,
                   list_dot_product(
                       q.v[cb.m*{sub}+1 : cb.m*{sub}+{sub}], cb.cv) AS part
            FROM n q CROSS JOIN cb WHERE q.vec_id < 10
        ),
        approx AS (
            SELECT b.qid, enc.vec_id AS cid,
                   round(ANY_VALUE(b.bias) + SUM(l.part), 6) AS asim
            FROM enc
            JOIN assign a ON a.cid = enc.vec_id
            JOIN biases b ON b.lid = a.lid
            JOIN lut l ON l.qid = b.qid AND l.m = enc.m AND l.code = enc.code
            WHERE b.qid != enc.vec_id
            GROUP BY b.qid, enc.vec_id
        ),
        cand AS (
            SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY asim DESC, cid
                ) AS rn FROM approx
            ) WHERE rn <= {rerank}
        ),
        s AS (
            SELECT cand.qid, cand.cid,
                   list_cosine_similarity(eq.raw, ec.raw) AS sim
            FROM cand
            JOIN e eq ON eq.vec_id = cand.qid
            JOIN e ec ON ec.vec_id = cand.cid
        ),
        r AS (
            SELECT qid, cid, sim, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid
            ) AS rn FROM s
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
               round(sim, 6) AS cosine_sim
        FROM r WHERE rn <= {k}
    """


def _recall_vs_exact_sql(ann_sql: str) -> str:
    """Compose any ANN oracle with the exact brute-force oracle into
    the standard recall@k harness SQL."""
    return f"""
        WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
        ann_r AS ({ann_sql}),
        m AS (
            SELECT e.query_id, count(*) AS n_matched
              FROM exact_r e JOIN ann_r a
                ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             GROUP BY e.query_id
        ),
        ex AS (
            SELECT query_id, count(*) AS n_exact
              FROM exact_r GROUP BY query_id
        )
        SELECT ex.query_id,
               ex.n_exact,
               coalesce(m.n_matched, 0) AS n_matched,
               round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
          FROM ex LEFT JOIN m USING (query_id)
    """


def _pca_oracle_sql(
    n_components: int = 8, sample_rows: int = 256
) -> str | None:
    """DuckDB twin of embedding_pca_project_q: the identical numpy
    model (covariance → eigh → sign-fixed top-k) from the identical
    bounded sample, projected via the same linearity identity — each
    pc[i] is one list_dot_product against a component literal minus
    the precomputed mean·c_i scalar, the exact fold the Spark side
    runs. Returns None (→ rows-only) if the parquet is unavailable."""
    import duckdb
    import numpy as np

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    x = np.array([r[0] for r in rows], dtype=np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / len(x)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T.copy()
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    mdots = comps @ mean
    # scalar pc{i} columns (not one DOUBLE[] column): the driver's
    # canonicalizer pandas-sorts raw cells and dies on unhashable lists
    terms = ", ".join(
        f"round(list_dot_product(raw, "
        f"[{', '.join(repr(float(v)) for v in comps[i])}]::DOUBLE[]) "
        f"- {repr(float(mdots[i]))}, 6) AS pc{i}"
        for i in range(len(comps))
    )
    return f"""
        SELECT vec_id, {terms}
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
              FROM embeddings)
    """


_pca_sql = _pca_oracle_sql()
if _pca_sql is not None:
    _PIPELINE_ORACLES["embedding_pca_project"] = _pca_sql


def _bpe_oracle_sql(sample_rows: int = 64, n_merges: int = 50) -> str | None:
    """DuckDB twin of bpe_tokenize_q: the IDENTICAL trainer
    (operators/bpe.train_bpe_merges) on the identical sample read via
    DuckDB, then the SAME rank-ordered replace chain spelled as nested
    SQL ``replace()`` calls over the same space-wrapped-token
    representation — the md5 digest matches only if every one of the
    50 rule applications lands identically in both engines. Returns
    None (→ rows-only check) if the parquet is unavailable."""
    import duckdb

    from bazof_spark.operators.bpe import (
        train_bpe_merges,
        word_freqs_from_texts,
    )

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT text FROM read_parquet('{path}') "
            f"ORDER BY doc_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    merges = train_bpe_merges(
        word_freqs_from_texts([r[0] for r in rows]), n_merges
    )
    enc = "rep"
    for a, b in merges:
        enc = f"replace({enc}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> len(x) > 0) AS words
            FROM documents
        ),
        r AS (
            SELECT doc_id, words,
                   array_to_string(list_transform(words,
                       x -> regexp_replace(x, '(.)', ' \\1 ', 'g')),
                       '#') AS rep
            FROM w
        ),
        e AS (SELECT doc_id, words, {enc} AS encoded FROM r)
        SELECT doc_id,
               CAST(len(words) AS INT) AS n_words,
               CAST(coalesce(list_sum(list_transform(words, x -> len(x))),
                             0) AS BIGINT) AS n_chars,
               CAST((len(encoded)
                     - len(replace(encoded, ' ', ''))) / 2
                    AS BIGINT) AS n_tokens,
               md5(encoded) AS digest
        FROM e
    """


_bpe_sql = _bpe_oracle_sql()
if _bpe_sql is not None:
    _PIPELINE_ORACLES["bpe_tokenize"] = _bpe_sql


def _quality_lr_oracle_sql(sample_rows: int = 256) -> str | None:
    """DuckDB twin of quality_model_score_q: the IDENTICAL trainer
    (operators/quality.train_quality_lr — Python feature twins of the
    Column expressions, deterministic GD) on the identical sample read
    via DuckDB, weights embedded as literals; the SQL recomputes the
    five features with the gopher-oracle formulas and evaluates the
    logit in the same left-to-right association the Spark chain uses.
    Returns None (→ rows-only) if the parquet is unavailable."""
    import duckdb

    from bazof_spark.operators.quality import train_quality_lr

    sf_dir = os.environ.get("BAZOF_PARITY_SF", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        rows = duckdb.sql(
            f"SELECT text FROM read_parquet('{path}') "
            f"ORDER BY doc_id LIMIT {sample_rows}"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    m = train_quality_lr([r[0] for r in rows])
    g = [
        f"((f{i} - {m['mu'][i]!r}) / {m['sd'][i]!r})"
        for i in range(len(m["w"]))
    ]
    z = "0.0"
    for i in range(len(m["w"])):
        z = f"{z} + {m['w'][i]!r} * {g[i]}"
    z = f"{z} + {m['b']!r}"
    return rf"""
        WITH f AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                        AS DOUBLE) AS f0,
                   CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9_]+')) > 0
                        THEN len(regexp_extract_all(text, '[A-Za-z0-9_]'))
                             * 1.0
                             / len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                        ELSE 0.0 END AS f1,
                   CASE WHEN length(text) > 0
                        THEN len(regexp_extract_all(text, '[^\sA-Za-z0-9_]'))
                             * 1.0
                             / length(text)
                        ELSE 0.0 END AS f2,
                   CAST(len(regexp_extract_all(text,
                        '(?i)\b(the|and|of|to|a|in|is|that)\b'))
                        AS DOUBLE) AS f3,
                   CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
                        THEN 1.0
                             - len(list_distinct(regexp_split_to_array(
                                   trim(text), '\s+')))
                               * 1.0
                               / len(regexp_split_to_array(trim(text), '\s+'))
                        ELSE 0.0 END AS f4
              FROM documents
        )
        SELECT doc_id,
               round({z}, 6) AS quality_logit,
               ({z}) >= 0 AS predicted_keep
          FROM f
    """


_quality_lr_sql = _quality_lr_oracle_sql()
if _quality_lr_sql is not None:
    _PIPELINE_ORACLES["quality_model_score"] = _quality_lr_sql


_pq_trained_sql = _pq_trained_oracle_sql()
if _pq_trained_sql is not None:
    _PIPELINE_ORACLES["embedding_ann_pq_trained"] = _pq_trained_sql
    _PIPELINE_ORACLES["ann_recall_pq_trained"] = _pq_trained_recall_sql(
        _pq_trained_sql
    )
_opq_sql = _opq_oracle_sql()
if _opq_sql is not None:
    _PIPELINE_ORACLES["embedding_ann_opq"] = _opq_sql
    _PIPELINE_ORACLES["ann_recall_opq"] = _pq_trained_recall_sql(_opq_sql)
_ivfpq_trained_sql = _ivfpq_trained_oracle_sql()
if _ivfpq_trained_sql is not None:
    _PIPELINE_ORACLES["embedding_ann_ivfpq_trained"] = _ivfpq_trained_sql
_ivfpq_res_trained_sql = _ivfpq_residual_trained_oracle_sql()
if _ivfpq_res_trained_sql is not None:
    _PIPELINE_ORACLES["embedding_ann_ivfpq_residual_trained"] = (
        _ivfpq_res_trained_sql
    )
    _PIPELINE_ORACLES["ann_recall_ivfpq_residual_trained"] = (
        _recall_vs_exact_sql(_ivfpq_res_trained_sql)
    )


def refresh_env_dependent_oracles() -> None:
    """Rebuild oracles whose SQL embeds data-derived literals (the
    trained-IVF centroids, the trained-PQ codebooks) from the CURRENT
    $BAZOF_PARITY_SF. The module-import build is correct when the
    parity harness is imported first (it sets the env var before
    importing this module); any other import order — e.g. a plans test
    importing the registry before the parity module runs — would
    freeze literals from the wrong sf dir. Call this after changing
    BAZOF_PARITY_SF."""
    sql = _ivf_trained_oracle_sql()
    if sql is not None:
        _PIPELINE_ORACLES["embedding_ann_ivf_trained"] = sql
        ORACLES["embedding_ann_ivf_trained"] = sql
    pq_sql = _pq_trained_oracle_sql()
    if pq_sql is not None:
        _PIPELINE_ORACLES["embedding_ann_pq_trained"] = pq_sql
        _PIPELINE_ORACLES["ann_recall_pq_trained"] = _pq_trained_recall_sql(
            pq_sql
        )
        ORACLES["embedding_ann_pq_trained"] = pq_sql
        ORACLES["ann_recall_pq_trained"] = _PIPELINE_ORACLES[
            "ann_recall_pq_trained"
        ]
    opq_sql = _opq_oracle_sql()
    if opq_sql is not None:
        _PIPELINE_ORACLES["embedding_ann_opq"] = opq_sql
        _PIPELINE_ORACLES["ann_recall_opq"] = _pq_trained_recall_sql(opq_sql)
        ORACLES["embedding_ann_opq"] = opq_sql
        ORACLES["ann_recall_opq"] = _PIPELINE_ORACLES["ann_recall_opq"]
    ivfpq_sql = _ivfpq_trained_oracle_sql()
    if ivfpq_sql is not None:
        _PIPELINE_ORACLES["embedding_ann_ivfpq_trained"] = ivfpq_sql
        ORACLES["embedding_ann_ivfpq_trained"] = ivfpq_sql
    res_sql = _ivfpq_residual_trained_oracle_sql()
    if res_sql is not None:
        recall_sql = _recall_vs_exact_sql(res_sql)
        _PIPELINE_ORACLES["embedding_ann_ivfpq_residual_trained"] = res_sql
        _PIPELINE_ORACLES["ann_recall_ivfpq_residual_trained"] = recall_sql
        ORACLES["embedding_ann_ivfpq_residual_trained"] = res_sql
        ORACLES["ann_recall_ivfpq_residual_trained"] = recall_sql
    pca_sql = _pca_oracle_sql()
    if pca_sql is not None:
        _PIPELINE_ORACLES["embedding_pca_project"] = pca_sql
        ORACLES["embedding_pca_project"] = pca_sql
    qlr_sql = _quality_lr_oracle_sql()
    if qlr_sql is not None:
        _PIPELINE_ORACLES["quality_model_score"] = qlr_sql
        ORACLES["quality_model_score"] = qlr_sql
    bpe_sql = _bpe_oracle_sql()
    if bpe_sql is not None:
        _PIPELINE_ORACLES["bpe_tokenize"] = bpe_sql
        ORACLES["bpe_tokenize"] = bpe_sql


def span_dedup_q(spark, sf_dir):
    """Duplicated-span report over the documents corpus: the chunk-
    granularity exact-substring dedup pass a training pipeline runs
    before (or after) document-level dedup — document dedup misses
    boilerplate repeated INSIDE otherwise-distinct documents
    (operators/dedup.span_dedup_stats)."""
    from bazof_spark.operators.dedup import span_dedup_stats

    return span_dedup_stats(_t("documents")(spark, sf_dir), chunk_tokens=32)


def embedding_ann_pq_q(spark, sf_dir):
    """Product-quantization ANN (ADC + exact re-rank) with deterministic
    codebooks: code j of subspace m = the m-th subvector of the unit-
    normalized embedding vec_id=j (j < 16) — the same fixed-corpus-slice
    trick as embedding_ann_ivf's quantizer, so every code assignment,
    LUT entry, and therefore the exact output reproduces in the DuckDB
    oracle. The PQ machinery (map-only encode, LUT scoring, top-R
    re-rank) is identical to what a k-means-trained deployment runs."""
    import numpy as np

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    slice_rows = (
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    rows = np.array([r["embedding"] for r in slice_rows], dtype=np.float64)
    # the DuckDB oracle hard-codes sub-vector slices of width 8 (dim 64
    # / 8 subspaces); any other embedding dim must fail loudly here
    # rather than silently diverge from the oracle
    if rows.shape[1] != 64:
        raise ValueError(
            f"embedding_ann_pq oracle assumes dim=64 (8 subspaces × 8); "
            f"got dim={rows.shape[1]}"
        )
    cb = pq_codebooks_from_rows(rows, m_subs=8)
    return pq_adc_topk(emb, queries, cb, k=5, rerank=20).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )


def ann_recall_pq_q(spark, sf_dir):
    """ANN evaluation, third index family: recall@5 of the PQ/ADC index
    against the exact brute-force top-5 — completes the recall harness
    over all three standard ANN scale paths (LSH, IVF, PQ). Same
    composed-oracle structure as ann_recall_lsh/_ivf."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = embedding_ann_pq_q(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact_join(exact, ann)


def embedding_ann_ivfpq_q(spark, sf_dir):
    """IVF-PQ ANN — the composed 100 TB index shape (Faiss IVFADC): the
    coarse quantizer of embedding_ann_ivf prunes each query to its 4
    probed lists, and PQ/ADC scores ONLY the codes inside them (pure
    ADC scans every code; here scored volume ∝ n_probe/n_lists). Both
    stages use the deterministic fixed-corpus-slice trick (centroids
    AND codebooks from vec_id < 16) so the whole index reproduces in
    the DuckDB oracle."""
    import numpy as np

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    slice_rows = (
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    rows = np.array([r["embedding"] for r in slice_rows], dtype=np.float64)
    if rows.shape[1] != 64:
        raise ValueError(
            f"embedding_ann_ivfpq oracle assumes dim=64 (8 subspaces × 8); "
            f"got dim={rows.shape[1]}"
        )
    cb = pq_codebooks_from_rows(rows, m_subs=8)
    return ivf_pq_topk(
        emb, queries, cb, rows, k=5, n_probe=4, rerank=20
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def embedding_ann_ivfpq_residual_q(spark, sf_dir):
    """Residual IVF-PQ — Faiss IVFADC's by_residual=true default: codes
    quantize v − centroid[assigned list] (smaller norm → finer
    quantization for the same code budget), ADC adds the q·centroid
    bias per probed list. Fixed-corpus-slice determinism devices as
    embedding_ann_ivfpq, but the CODEBOOK slice (vec_id 16..31) is
    DISJOINT from the centroid slice (vec_id < 16): a codebook row
    assigned to itself has residual exactly 0, so rows==centroids would
    zero every codebook entry and the ADC term would vanish
    (residual_pq_codebooks_from_rows now rejects that degeneracy)."""
    import numpy as np

    from bazof_spark.operators.similarity import (
        ivf_pq_residual_topk,
        residual_pq_codebooks_from_rows,
    )

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    slice_rows = (
        emb.filter(F.col("vec_id") < 32)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    rows = np.array([r["embedding"] for r in slice_rows], dtype=np.float64)
    if rows.shape[1] != 64:
        raise ValueError(
            f"embedding_ann_ivfpq_residual oracle assumes dim=64; "
            f"got dim={rows.shape[1]}"
        )
    cent, cb_rows = rows[:16], rows[16:32]
    cb = residual_pq_codebooks_from_rows(cb_rows, cent, m_subs=8)
    return ivf_pq_residual_topk(
        emb, queries, cb, cent, k=5, n_probe=4, rerank=20
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def ann_recall_ivfpq_q(spark, sf_dir):
    """Recall@5 of the composed IVF-PQ index against the exact top-5 —
    the fourth entry in the recall harness (LSH, IVF, PQ, IVF-PQ), so
    the list-pruning recall cost vs pure ADC is measured, not assumed."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = embedding_ann_ivfpq_q(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return _recall_vs_exact_join(exact, ann)


def embedding_ann_pq_trained_q(spark, sf_dir):
    """PQ/ADC with TRAINED codebooks — per-subspace L2 k-means on the
    256 lowest-id vectors (operators/similarity.pq_codebooks_trained),
    the production counterpart of embedding_ann_pq's fixed-slice
    codebooks. The oracle re-derives the identical codebooks from the
    same parquet sample through the same numpy trainer, so the trained
    path is cross-engine verified the way trained IVF was."""
    from bazof_spark.operators.similarity import pq_codebooks_trained

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    cb = pq_codebooks_trained(
        emb, m_subs=8, n_codes=16, seed=29, sample_rows=256
    )
    return pq_adc_topk(emb, queries, cb, k=5, rerank=20).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )


def embedding_ann_opq_q(spark, sf_dir):
    """OPQ — PQ/ADC behind a LEARNED orthogonal rotation (Ge et al.
    2013, Faiss OPQMatrix; the standard rung above trained PQ):
    alternating per-subspace k-means and orthogonal-Procrustes solves
    on the bounded 256-row sample minimize quantization error before
    encoding. The corpus pass is the same single Arrow-batched
    encode (one extra batch matmul); query LUTs rotate driver-side;
    exact re-rank scores ORIGINAL vectors (rotation preserves cosine).
    The oracle re-derives identical (rotation, codebooks) from the
    same parquet sample through the same numpy alternation."""
    from bazof_spark.operators.similarity import opq_trained

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    rot, cb = opq_trained(
        emb, m_subs=8, n_codes=16, seed=29, sample_rows=256, iters=8
    )
    return pq_adc_topk(
        emb, queries, cb, k=5, rerank=20, rotation=rot
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def ann_recall_opq_q(spark, sf_dir):
    """Recall@5 of the OPQ index vs the exact top-5."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = embedding_ann_opq_q(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return _recall_vs_exact_join(exact, ann)


def quality_model_score_q(spark, sf_dir):
    """Distilled quality classifier (operators/quality.py): logistic
    regression trained driver-side on the 256 lowest-id documents
    against the Gopher rule labels, scoring the whole corpus map-only.
    The emitted score is the LOGIT — pure arithmetic over regex counts,
    bit-reproducible in DuckDB (the oracle re-derives the identical
    weights from the same parquet sample via the same trainer)."""
    from bazof_spark.operators.quality import (
        distill_quality_lr,
        quality_lr_score,
    )

    docs = _t("documents")(spark, sf_dir)
    model = distill_quality_lr(docs, sample_rows=256)
    return quality_lr_score(docs, model)


def embedding_pca_project_q(spark, sf_dir):
    """PCA projection of every embedding onto the corpus's top-8
    principal components (operators/pca.py) — the dimensionality-
    reduction pass before indexing/clustering. Model from the bounded
    256-row sample (the repo's trained-model pattern); the oracle
    re-derives the identical components in numpy from the same parquet
    sample and projects via the linearity identity v·c − mean·c.

    Output contract: SCALAR columns pc0..pc7, not pc: array<double> —
    the driver's canonicalizer sorts raw cells with pandas and cannot
    hash list cells (the one red CORRECTNESS_r07 row)."""
    from bazof_spark.operators.pca import (
        pca_model_from_sample,
        pca_project,
    )

    emb = _t("embeddings")(spark, sf_dir)
    comps, mean = pca_model_from_sample(
        emb, n_components=8, sample_rows=256
    )
    return pca_project(emb, comps, mean).select(
        "vec_id",
        *[
            F.round(F.element_at("pc", i + 1), 6).alias(f"pc{i}")
            for i in range(8)
        ],
    )


def embedding_ann_ivfpq_trained_q(spark, sf_dir):
    """The fully-trained composed index — trained coarse quantizer
    (seeded spherical k-means, the embedding_ann_ivf_trained path) IN
    FRONT OF trained PQ codebooks (per-subspace L2 k-means, the
    embedding_ann_pq_trained path): the exact production IVF-PQ shape,
    with BOTH training stages re-derived by the oracle from the same
    bounded parquet sample so the whole train→assign→encode→probe→ADC→
    re-rank chain is cross-engine verified."""
    from bazof_spark.operators.similarity import (
        _train_centroids,
        pq_codebooks_trained,
        sample_lowest_id_vectors,
    )

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    # both trainers draw the IDENTICAL bounded sample — collect it once
    # and hand the matrix to each (opt round 1: one distributed top-k
    # job instead of two per construction)
    sample = sample_lowest_id_vectors(emb, 256)
    cent = _train_centroids(
        emb, "embedding", n_lists=16, seed=13, sample_rows=256,
        id_col="vec_id", sample=sample,
    )
    cb = pq_codebooks_trained(
        emb, m_subs=8, n_codes=16, seed=29, sample_rows=256, sample=sample
    )
    return ivf_pq_topk(
        emb, queries, cb, cent, k=5, n_probe=4, rerank=20
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def ann_recall_pq_trained_q(spark, sf_dir):
    """Recall@5 of the trained-codebook PQ index vs the exact top-5."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = embedding_ann_pq_trained_q(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return _recall_vs_exact_join(exact, ann)


def embedding_ann_ivfpq_residual_trained_q(spark, sf_dir):
    """The COMPLETE Faiss-default index — trained coarse quantizer
    (seeded spherical k-means) + by_residual=true + codebooks trained
    with per-subspace L2 k-means ON THE RESIDUALS (Jégou 2011 §V; what
    `IndexIVFPQ` trains by default). Closes the round-7 gap where the
    trained composed index was by_residual=false and the residual
    variant used fixed-slice codebooks. Both training stages re-derived
    by the DuckDB oracle from the same bounded parquet sample."""
    from bazof_spark.operators.similarity import (
        _train_centroids,
        ivf_pq_residual_topk,
        residual_pq_codebooks_trained,
        sample_lowest_id_vectors,
    )

    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    # one collect of the shared bounded sample for both trainers (opt
    # round 1 — see embedding_ann_ivfpq_trained_q)
    sample = sample_lowest_id_vectors(emb, 256)
    cent = _train_centroids(
        emb, "embedding", n_lists=16, seed=13, sample_rows=256,
        id_col="vec_id", sample=sample,
    )
    cb = residual_pq_codebooks_trained(
        emb, cent, m_subs=8, n_codes=16, seed=31, sample_rows=256,
        sample=sample,
    )
    return ivf_pq_residual_topk(
        emb, queries, cb, cent, k=5, n_probe=4, rerank=20
    ).withColumn("cosine_sim", F.round("cosine_sim", 6))


def ann_recall_ivfpq_residual_trained_q(spark, sf_dir):
    """Recall@5 of the trained residual IVF-PQ index vs the exact
    top-5 — the sixth entry in the recall harness, so the cost of the
    full Faiss-default stack (list pruning + residual ADC, both stages
    trained) is measured, not assumed."""
    emb = _t("embeddings")(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = embedding_ann_ivfpq_residual_trained_q(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return _recall_vs_exact_join(exact, ann)


# span dedup: chunk boundaries are integer-exact (same arithmetic as the
# doc_chunking oracle with overlap=0), first occurrence = row_number 1
# over (doc_id, chunk_id) within each chunk-md5 group — the SQL twin of
# Spark's min(struct(doc_id, chunk_id)) over the hash window
_PIPELINE_ORACLES["span_dedup"] = r"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS w,
               greatest(1, (len(string_split_regex(trim(text), '\s+'))
                            + 31) // 32) AS nc
        FROM documents
    ),
    c AS (
        SELECT doc_id, t.ci AS chunk_id,
               array_to_string(w[t.ci*32+1 : t.ci*32+32], ' ') AS chunk_text
        FROM d, UNNEST(range(d.nc)) AS t(ci)
    ),
    m AS (
        SELECT doc_id, chunk_id, row_number() OVER (
                   PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id
               ) AS rn
        FROM c
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / count(*), 6)
               AS dup_frac
    FROM m GROUP BY doc_id
"""

# PQ/ADC with the deterministic codebooks of embedding_ann_pq_q:
# everything (normalization, codebooks, code assignment, LUT partial
# dots, the rounded-approx candidate cutoff, the exact re-rank) is
# derived from the embeddings table inside the SQL. Approx scores are
# rounded to 6 dp in BOTH engines before the top-20 cutoff so the
# candidate set survives sum-association fp differences; list_distance
# (sqrt of numpy's squared L2) is order-equivalent for the argmin.
_PIPELINE_ORACLES["embedding_ann_pq"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
    ),
    n AS (
        SELECT vec_id,
               list_transform(raw, x -> x * (1.0 / greatest(
                   sqrt(list_dot_product(raw, raw)), 1e-12))) AS v
        FROM e
    ),
    cb AS (
        SELECT vec_id AS code, t.m AS m, v[t.m*8+1 : t.m*8+8] AS cv
        FROM n, UNNEST(range(8)) AS t(m) WHERE vec_id < 16
    ),
    enc AS (
        SELECT vec_id, m, code FROM (
            SELECT n.vec_id, cb.m, cb.code,
                   row_number() OVER (PARTITION BY n.vec_id, cb.m
                       ORDER BY list_distance(
                           n.v[cb.m*8+1 : cb.m*8+8], cb.cv) ASC, cb.code ASC
                   ) AS rn
            FROM n CROSS JOIN cb
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS qid, cb.m, cb.code,
               list_dot_product(q.v[cb.m*8+1 : cb.m*8+8], cb.cv) AS part
        FROM n q CROSS JOIN cb WHERE q.vec_id < 10
    ),
    approx AS (
        SELECT l.qid, enc.vec_id AS cid, round(SUM(l.part), 6) AS asim
        FROM enc JOIN lut l ON l.m = enc.m AND l.code = enc.code
        WHERE l.qid != enc.vec_id
        GROUP BY l.qid, enc.vec_id
    ),
    cand AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY asim DESC, cid
            ) AS rn FROM approx
        ) WHERE rn <= 20
    ),
    s AS (
        SELECT cand.qid, cand.cid,
               list_cosine_similarity(eq.raw, ec.raw) AS sim
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e ec ON ec.vec_id = cand.cid
    ),
    r AS (
        SELECT qid, cid, sim, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid
        ) AS rn FROM s
    )
    SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
           round(sim, 6) AS cosine_sim
    FROM r WHERE rn <= 5
"""

# IVF-PQ: the IVF oracle's coarse assignment/probe CTEs composed with
# the PQ oracle's encode/LUT CTEs — ADC scoring restricted to codes
# whose list the query probes (the whole point of the composition).
# Same determinism devices as both parents: fixed-slice centroids AND
# codebooks (vec_id < 16), 6-dp rounding before the candidate cutoff.
_PIPELINE_ORACLES["embedding_ann_ivfpq"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
    ),
    n AS (
        SELECT vec_id,
               list_transform(raw, x -> x * (1.0 / greatest(
                   sqrt(list_dot_product(raw, raw)), 1e-12))) AS v
        FROM e
    ),
    cent AS (SELECT vec_id AS lid, raw AS cvv FROM e WHERE vec_id < 16),
    ca AS (
        SELECT vec_id AS cid, lid,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
               ) AS rn
        FROM e CROSS JOIN cent
    ),
    assign AS (SELECT cid, lid FROM ca WHERE rn = 1),
    qp AS (
        SELECT vec_id AS qid, lid,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
               ) AS rn
        FROM e CROSS JOIN cent WHERE vec_id < 10
    ),
    probe AS (SELECT qid, lid FROM qp WHERE rn <= 4),
    cb AS (
        SELECT vec_id AS code, t.m AS m, v[t.m*8+1 : t.m*8+8] AS cv
        FROM n, UNNEST(range(8)) AS t(m) WHERE vec_id < 16
    ),
    enc AS (
        SELECT vec_id, m, code FROM (
            SELECT n.vec_id, cb.m, cb.code,
                   row_number() OVER (PARTITION BY n.vec_id, cb.m
                       ORDER BY list_distance(
                           n.v[cb.m*8+1 : cb.m*8+8], cb.cv) ASC, cb.code ASC
                   ) AS rn
            FROM n CROSS JOIN cb
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS qid, cb.m, cb.code,
               list_dot_product(q.v[cb.m*8+1 : cb.m*8+8], cb.cv) AS part
        FROM n q CROSS JOIN cb WHERE q.vec_id < 10
    ),
    approx AS (
        SELECT p.qid, enc.vec_id AS cid, round(SUM(l.part), 6) AS asim
        FROM enc
        JOIN assign a ON a.cid = enc.vec_id
        JOIN probe p ON p.lid = a.lid
        JOIN lut l ON l.qid = p.qid AND l.m = enc.m AND l.code = enc.code
        WHERE p.qid != enc.vec_id
        GROUP BY p.qid, enc.vec_id
    ),
    cand AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY asim DESC, cid
            ) AS rn FROM approx
        ) WHERE rn <= 20
    ),
    s AS (
        SELECT cand.qid, cand.cid,
               list_cosine_similarity(eq.raw, ec.raw) AS sim
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e ec ON ec.vec_id = cand.cid
    ),
    r AS (
        SELECT qid, cid, sim, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid
        ) AS rn FROM s
    )
    SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
           round(sim, 6) AS cosine_sim
    FROM r WHERE rn <= 5
"""

# Residual IVF-PQ (by_residual=true): residual r = v_norm − cent_norm
# built element-wise via range(1,65); codes = argmin list_distance of
# residual subvectors vs the RESIDUAL codebooks — derived from the
# vec_id 16..31 slice, DISJOINT from the vec_id<16 centroid slice
# (rows==centroids would make every codebook entry exactly zero and the
# ADC term vanish); code label = vec_id − 16 matches the numpy index.
# ADC = q·cent_l bias + LUT sum. Same determinism devices as parents.
_PIPELINE_ORACLES["embedding_ann_ivfpq_residual"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
    ),
    n AS (
        SELECT vec_id,
               list_transform(raw, x -> x * (1.0 / greatest(
                   sqrt(list_dot_product(raw, raw)), 1e-12))) AS v
        FROM e
    ),
    cent AS (SELECT vec_id AS lid, raw AS cvv FROM e WHERE vec_id < 16),
    ncent AS (SELECT vec_id AS lid, v AS cw FROM n WHERE vec_id < 16),
    ca AS (
        SELECT vec_id AS cid, lid,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
               ) AS rn
        FROM e CROSS JOIN cent
    ),
    assign AS (SELECT cid, lid FROM ca WHERE rn = 1),
    res AS (
        SELECT nn.vec_id, a.lid,
               list_transform(range(1, 65), i -> nn.v[i] - nc.cw[i]) AS r
        FROM n nn
        JOIN assign a ON a.cid = nn.vec_id
        JOIN ncent nc ON nc.lid = a.lid
    ),
    cb AS (
        SELECT res.vec_id - 16 AS code, t.m AS m,
               res.r[t.m*8+1 : t.m*8+8] AS cv
        FROM res, UNNEST(range(8)) AS t(m)
        WHERE res.vec_id >= 16 AND res.vec_id < 32
    ),
    enc AS (
        SELECT vec_id, m, code FROM (
            SELECT res.vec_id, cb.m, cb.code,
                   row_number() OVER (PARTITION BY res.vec_id, cb.m
                       ORDER BY list_distance(
                           res.r[cb.m*8+1 : cb.m*8+8], cb.cv) ASC,
                       cb.code ASC
                   ) AS rn
            FROM res CROSS JOIN cb
        ) WHERE rn = 1
    ),
    qp AS (
        SELECT vec_id AS qid, lid,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(raw, cvv) DESC, lid
               ) AS rn
        FROM e CROSS JOIN cent WHERE vec_id < 10
    ),
    probe AS (SELECT qid, lid FROM qp WHERE rn <= 4),
    biases AS (
        SELECT p.qid, p.lid, list_dot_product(qn.v, nc.cw) AS bias
        FROM probe p
        JOIN n qn ON qn.vec_id = p.qid
        JOIN ncent nc ON nc.lid = p.lid
    ),
    lut AS (
        SELECT q.vec_id AS qid, cb.m, cb.code,
               list_dot_product(q.v[cb.m*8+1 : cb.m*8+8], cb.cv) AS part
        FROM n q CROSS JOIN cb WHERE q.vec_id < 10
    ),
    approx AS (
        SELECT b.qid, enc.vec_id AS cid,
               round(ANY_VALUE(b.bias) + SUM(l.part), 6) AS asim
        FROM enc
        JOIN assign a ON a.cid = enc.vec_id
        JOIN biases b ON b.lid = a.lid
        JOIN lut l ON l.qid = b.qid AND l.m = enc.m AND l.code = enc.code
        WHERE b.qid != enc.vec_id
        GROUP BY b.qid, enc.vec_id
    ),
    cand AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY asim DESC, cid
            ) AS rn FROM approx
        ) WHERE rn <= 20
    ),
    s AS (
        SELECT cand.qid, cand.cid,
               list_cosine_similarity(eq.raw, ec.raw) AS sim
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e ec ON ec.vec_id = cand.cid
    ),
    r AS (
        SELECT qid, cid, sim, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid
        ) AS rn FROM s
    )
    SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS INT) AS rank,
           round(sim, 6) AS cosine_sim
    FROM r WHERE rn <= 5
"""

# recall@5 of the composed IVF-PQ index vs the exact top-5
_PIPELINE_ORACLES["ann_recall_ivfpq"] = f"""
    WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
    ann_r AS ({_PIPELINE_ORACLES["embedding_ann_ivfpq"]}),
    m AS (
        SELECT e.query_id, count(*) AS n_matched
          FROM exact_r e JOIN ann_r a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.query_id
    ),
    ex AS (SELECT query_id, count(*) AS n_exact FROM exact_r GROUP BY query_id)
    SELECT ex.query_id,
           ex.n_exact,
           coalesce(m.n_matched, 0) AS n_matched,
           round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN m USING (query_id)
"""

# recall@5 of the PQ index vs the exact top-5 — same composition as the
# LSH/IVF recall harnesses
_PIPELINE_ORACLES["ann_recall_pq"] = f"""
    WITH exact_r AS ({_PIPELINE_ORACLES["embedding_cosine_topk"]}),
    ann_r AS ({_PIPELINE_ORACLES["embedding_ann_pq"]}),
    m AS (
        SELECT e.query_id, count(*) AS n_matched
          FROM exact_r e JOIN ann_r a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.query_id
    ),
    ex AS (SELECT query_id, count(*) AS n_exact FROM exact_r GROUP BY query_id)
    SELECT ex.query_id,
           ex.n_exact,
           coalesce(m.n_matched, 0) AS n_matched,
           round(coalesce(m.n_matched, 0) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN m USING (query_id)
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    # core format operators
    "asof_scan_current": asof_scan_current,
    "delete_tombstone_scan": delete_tombstone_scan,
    "merge_delete_scan": merge_delete_scan,
    "merge_multi_clause_scan": merge_multi_clause_scan,
    "merge_by_source_scan": merge_by_source_scan,
    "merge_by_source_update_scan": merge_by_source_update_scan,
    "update_set_scan": update_set_scan,
    "zonemap_key_lookup": zonemap_key_lookup,
    "keyset_point_lookup": keyset_point_lookup,
    "asof_scan_event_time": asof_scan_event_time,
    "asof_projection": asof_projection,
    "time_travel_sql": time_travel_sql,
    "asof_self_join_sql": asof_self_join_sql,
    "time_travel_changes": time_travel_changes,
    "time_travel_changes_sql": time_travel_changes_sql,
    "asof_join_events": asof_join_events,
    "streaming_latest_rows": streaming_latest_rows,
    "streaming_native_read": streaming_native_read,
    "streaming_window_counts": streaming_window_counts,
    "streaming_sessions": streaming_sessions,
    "streaming_dedup": streaming_dedup,
    "streaming_sketch_kmv": streaming_sketch_kmv,
    # relational surface
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_revenue_change": q6_revenue_change,
    "q8_market_share": q8_market_share,
    "q14_promo_effect": q14_promo_effect,
    "agg_rollup_lineitem": agg_rollup_lineitem,
    "q4_semi_join_priority": q4_semi_join_priority,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q22_anti_join_idle_customers": q22_anti_join_idle_customers,
    "filter_in_topk": filter_in_topk,
    "window_customer_order_rank": window_customer_order_rank,
    "set_ops_active_customers": set_ops_active_customers,
    "scalar_functions_showcase": scalar_functions_showcase,
    "agg_nation_customer_stats": agg_nation_customer_stats,
    "semi_structured_json_array": semi_structured_json_array,
    "events_tumbling_window": events_tumbling_window,
    # training-data pipeline
    "dedup_exact": dedup_exact_q,
    "dedup_source_priority": dedup_source_priority_q,
    "dedup_ngram_jaccard": dedup_ngram_jaccard_q,
    "dedup_minhash_lsh": dedup_minhash_lsh_q,
    "dedup_simhash": dedup_simhash_q,
    "dedup_clusters": dedup_clusters_q,
    "dedup_end_to_end": dedup_end_to_end_q,
    "dataset_split": dataset_split_q,
    "sequence_packing": sequence_packing_q,
    "corpus_clean": corpus_clean_q,
    "bm25_search": bm25_search_q,
    "decontamination": decontamination_q,
    "text_stats": text_stats_q,
    "bpe_tokenize": bpe_tokenize_q,
    "text_nfc_normalize": text_nfc_normalize_q,
    "text_quality": text_quality_q,
    "text_language_id": text_language_id_q,
    "doc_fingerprint": doc_fingerprint_q,
    "embedding_cosine_topk": embedding_cosine_topk_q,
    "knn_label_vote": knn_label_vote_q,
    "embedding_neardup": embedding_neardup_q,
    "embedding_quantize": embedding_quantize_q,
    "embedding_ann_lsh": embedding_ann_lsh_q,
    "ann_recall_lsh": ann_recall_lsh_q,
    "embedding_ann_sq8": embedding_ann_sq8_q,
    "ann_recall_sq8": ann_recall_sq8_q,
    "ann_recall_ivf": ann_recall_ivf_q,
    "embedding_ann_ivf": embedding_ann_ivf_q,
    "embedding_ann_ivf_trained": embedding_ann_ivf_trained_q,
    "embedding_ann_pq": embedding_ann_pq_q,
    "ann_recall_pq": ann_recall_pq_q,
    "embedding_ann_ivfpq": embedding_ann_ivfpq_q,
    "ann_recall_ivfpq": ann_recall_ivfpq_q,
    "embedding_ann_ivfpq_trained": embedding_ann_ivfpq_trained_q,
    "embedding_ann_ivfpq_residual": embedding_ann_ivfpq_residual_q,
    "embedding_ann_ivfpq_residual_trained":
        embedding_ann_ivfpq_residual_trained_q,
    "ann_recall_ivfpq_residual_trained": ann_recall_ivfpq_residual_trained_q,
    "embedding_pca_project": embedding_pca_project_q,
    "quality_model_score": quality_model_score_q,
    "embedding_ann_pq_trained": embedding_ann_pq_trained_q,
    "ann_recall_pq_trained": ann_recall_pq_trained_q,
    "embedding_ann_opq": embedding_ann_opq_q,
    "ann_recall_opq": ann_recall_opq_q,
    "span_dedup": span_dedup_q,
    # multimodal: real stdlib codecs (wav/bmp/ppm) + stubbed codec slots
    "multimodal_frame_sample": multimodal_frame_sample_q,
    "multimodal_features": multimodal_features_q,
    "multimodal_metadata_stats": multimodal_metadata_stats_q,
    "multimodal_audio_stats": multimodal_audio_stats_q,
    "multimodal_resize": multimodal_resize_q,
    "multimodal_wav_decode": multimodal_wav_decode_q,
    "multimodal_adpcm_decode": multimodal_adpcm_decode_q,
    "multimodal_g711_decode": multimodal_g711_decode_q,
    "multimodal_flac_decode": multimodal_flac_decode_q,
    "multimodal_ogg_decode": multimodal_ogg_decode_q,
    "warc_extract_text": warc_extract_text_q,
    "zip_extract_documents": zip_extract_documents_q,
    "tar_shard_samples": tar_shard_samples_q,
    "multimodal_bmp_decode": multimodal_bmp_decode_q,
    "multimodal_qoi_decode": multimodal_qoi_decode_q,
    "multimodal_webp_decode": multimodal_webp_decode_q,
    "deflate_decode_text": deflate_decode_text_q,
    "url_normalize": url_normalize_q,
    "lang_temperature_resample": lang_temperature_resample_q,
    "filter_cascade": filter_cascade_q,
    "compressed_text_roundtrip": compressed_text_roundtrip_q,
    "multimodal_tiff_decode": multimodal_tiff_decode_q,
    "multimodal_png_decode": multimodal_png_decode_q,
    "multimodal_jpeg_decode": multimodal_jpeg_decode_q,
    "multimodal_jpeg_progressive_decode": multimodal_jpeg_progressive_decode_q,
    "multimodal_gif_decode": multimodal_gif_decode_q,
    "multimodal_gif_frame_sample": multimodal_gif_frame_sample_q,
    "multimodal_avi_frame_sample": multimodal_avi_frame_sample_q,
    "multimodal_mp4_frame_sample": multimodal_mp4_frame_sample_q,
    "multimodal_mkv_frame_sample": multimodal_mkv_frame_sample_q,
}

from bazof_spark.workload_clean import ORACLES_CLEAN, QUERIES_CLEAN  # noqa: E402
from bazof_spark.workload_ext import ORACLES_EXT, QUERIES_EXT  # noqa: E402
from bazof_spark.workload_r10 import ORACLES_R10, QUERIES_R10  # noqa: E402
from bazof_spark.workload_r11 import ORACLES_R11, QUERIES_R11  # noqa: E402
from bazof_spark.workload_r12 import ORACLES_R12, QUERIES_R12  # noqa: E402

QUERIES.update(QUERIES_EXT)
QUERIES.update(QUERIES_CLEAN)
QUERIES.update(QUERIES_R10)
QUERIES.update(QUERIES_R11)
QUERIES.update(QUERIES_R12)

# ---------------------------------------------------------------------------
# Driver-rotation ordering. The driver's correctness harness checks the
# FIRST 50 queries()-entries per round, in dict order. Rounds 7 and 8 each
# shipped with this ordering one round stale (hand-maintained checked-set
# literals lagging the latest CORRECTNESS file), so the sets are now
# DERIVED at import time from the CORRECTNESS_r{N}.json artifacts the
# driver itself writes at the repo root: a query's staleness is the
# newest round whose artifact recorded it GREEN (rows+schema+hash all
# passing — red rows are excluded so they re-front as never-checked).
# Ordering: never-green first (new queries + any red row), then stale
# buckets oldest-round-first (alphabetical within a bucket), then the
# freshest remainder. The rotation can no longer lag: committing a new
# CORRECTNESS file IS the update.


def _driver_checked_rounds() -> list[tuple[int, set]]:
    """(round, green-query-names) per CORRECTNESS_r{N}.json found at the
    repo root (the directory holding the bazof_spark package). Missing
    or unparsable files are skipped — with none found every query ranks
    never-checked and the registry keeps its natural order."""
    import glob as _glob
    import json as _json
    import re as _re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: list[tuple[int, set]] = []
    for path in sorted(_glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        try:
            with open(path) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        green = {
            name
            for name, row in data.items()
            if isinstance(row, dict)
            and row.get("rows_match") is True
            and row.get("schema_match") is not False
            and row.get("hash_match") is not False
        }
        out.append((int(m.group(1)), green))
    out.sort()
    return out


def _rotation_order(names: list) -> list:
    """Order the registry for the driver's 50-query window: (1) queries
    with NO green driver row in ANY CORRECTNESS artifact (new additions
    and red rows) in registry order, then (2) everything else bucketed
    by the round of its newest green row, oldest bucket first,
    alphabetical within a bucket."""
    latest: dict = {}
    for rnd, green in _driver_checked_rounds():
        for n in green:
            latest[n] = rnd
    never = [n for n in names if n not in latest]
    rest = sorted(
        (n for n in names if n in latest), key=lambda n: (latest[n], n)
    )
    return never + rest


QUERIES = {k: QUERIES[k] for k in _rotation_order(list(QUERIES))}

ORACLES: dict[str, str] = {
    **_ASOF_ORACLES,
    **_RELATIONAL_ORACLES,
    **_PIPELINE_ORACLES,
    **_MULTIMODAL_ORACLES,
    **ORACLES_EXT,
    **ORACLES_CLEAN,
    **ORACLES_R10,
    **ORACLES_R11,
    **ORACLES_R12,
}
