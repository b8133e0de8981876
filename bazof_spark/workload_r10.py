"""Round-10 pipeline workload extensions: the published web-corpus
cleaning steps that were still missing as first-class queries —
C4-style line/page filtering (Raffel et al. 2020), CCNet-style
within-document line dedup, canonical-URL dedup (pick the best copy
per resource), and energy-based audio voice-activity segmentation over
real WAV bytes.

Same contract as workload.py: every query has a DuckDB oracle with
identical column aliases. The synthetic documents carry no newlines or
punctuation, so the line-structured fixtures are BUILT from doc_id +
the document's own words by BOTH engines (the same discipline as
url_normalize / the multimodal grids): Spark assembles pages with JVM
array/regex expressions in whole-stage codegen, DuckDB with its list
functions and RE2 — agreement pins the actual string semantics of the
cleaning rules, not one engine against itself.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    from bazof_spark.sources.tables import load_table, rebalance_if_undersplit

    return rebalance_if_undersplit(
        spark, load_table(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# Page fixture shared by the C4 filter and the line-dedup queries: a
# deterministic multi-line page from (doc words, doc_id)
# ---------------------------------------------------------------------------


def _page_lines(d, words):
    """The C4-fixture page: floor(words/8) lines; line i carries
    3 + (d + 7i) % 6 words from its 8-word stride (so some lines fall
    under the 5-word rule), ' javascript code' is injected every 7th
    (d + i) and a terminal '.' appended except every 3rd — then a
    'lorem ipsum' trap line on d % 13 pages and a curly-brace trap on
    d % 11 pages. Pure Column expressions; the oracle rebuilds the
    identical page with DuckDB list functions."""
    n_body = F.floor(F.size(words) / F.lit(8)).cast("int")
    idx = F.when(n_body > 0, F.sequence(F.lit(0), n_body - 1)).otherwise(
        F.array().cast("array<int>")
    )
    body = F.transform(
        idx,
        lambda i: F.concat(
            F.array_join(
                F.slice(words, i * 8 + 1, F.lit(3) + (d + i * 7) % 6), " "
            ),
            F.when((d + i) % 7 == 0, F.lit(" javascript code")).otherwise(
                F.lit("")
            ),
            F.when((d + i) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    lines = F.when(
        d % 13 == 0,
        F.concat(body, F.array(F.lit("lorem ipsum dolor sit amet."))),
    ).otherwise(body)
    return F.when(
        d % 11 == 0, F.concat(lines, F.array(F.lit("var x = { 1 };")))
    ).otherwise(lines)


_PAGE_LINES_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN list_append(ls1, 'var x = { 1 };')
                    ELSE ls1 END AS ls
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 0
                        THEN list_append(ls0, 'lorem ipsum dolor sit amet.')
                        ELSE ls0 END AS ls1
            FROM (
                SELECT doc_id,
                       CASE WHEN nb > 0 THEN list_transform(range(nb), i ->
                            array_to_string(
                                list_slice(ws, i * 8 + 1,
                                           i * 8 + 3 + (doc_id + i * 7) % 6),
                                ' ')
                            || CASE WHEN (doc_id + i) % 7 = 0
                                    THEN ' javascript code' ELSE '' END
                            || CASE WHEN (doc_id + i) % 3 <> 0
                                    THEN '.' ELSE '' END)
                            ELSE CAST([] AS VARCHAR[]) END AS ls0
                FROM (
                    SELECT doc_id,
                           regexp_split_to_array(trim(text), '\\s+') AS ws,
                           CAST(floor(len(regexp_split_to_array(
                               trim(text), '\\s+')) / 8) AS INT) AS nb
                    FROM documents
                )
            )
        )
"""


def c4_quality_filter_q(spark, sf_dir):
    """C4-style page cleaning (Raffel et al. 2020, the published T5
    corpus recipe) as one map-only projection: per page, retain lines
    that end in terminal punctuation, contain >= 5 words and no
    'javascript'; drop whole pages containing 'lorem ipsum' or a curly
    brace; keep what's left only when >= 3 sentences survive. Reduces
    to kept-line counts, the keep decision, and the md5 of the cleaned
    page. All gates are JVM array/regex Column expressions — zero
    Python, zero shuffles; the oracle replays every rule with DuckDB
    list functions + RE2."""
    from bazof_spark.exprcache import cached_columns

    docs = _docs(spark, sf_dir)

    # page synthesis + all five gates are one fixed expression tree
    # (~1,000 py4j round trips to build) over fixed column names —
    # built once per process (opt round 1, change 15)
    def _cols() -> list:
        d = F.col("doc_id")
        words = F.split(F.trim(F.col("text")), r"\s+")
        lines = _page_lines(d, words)
        kept = F.filter(
            lines,
            lambda l: l.rlike('[.!?"]$')
            & (F.size(F.split(F.trim(l), r"\s+")) >= 5)
            & ~F.lower(l).contains("javascript"),
        )
        trap = F.exists(
            lines,
            lambda l: l.contains("{") | F.lower(l).contains("lorem ipsum"),
        )
        n_kept = F.size(kept)
        keep = (~trap & (n_kept >= 3)).cast("int")
        return [
            F.col("doc_id"),
            F.size(lines).alias("n_lines"),
            n_kept.alias("n_kept_lines"),
            keep.alias("keep"),
            F.md5(F.array_join(kept, "\n").cast("binary")).alias("digest"),
        ]

    return docs.select(*cached_columns(("c4_quality_filter",), _cols))


def line_dedup_within_doc_q(spark, sf_dir):
    """CCNet-style within-document line dedup: pages are built with a
    4-line repeat cycle (line i repeats line i % 4), duplicates are
    removed keeping the FIRST occurrence in order (array_distinct),
    and the result reduces to line counts, the dedup ratio, and the
    md5 of the deduplicated page. Map-only, zero shuffles; the oracle
    re-deduplicates with an index-aware DuckDB list_filter
    (list_position(ls, x) = i keeps exactly first occurrences in
    order) — two independent order-preserving dedup implementations
    must agree on every byte."""
    d = F.col("doc_id")
    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_body = F.floor(F.size(words) / F.lit(8)).cast("int")
    idx = F.when(n_body > 0, F.sequence(F.lit(0), n_body - 1)).otherwise(
        F.array().cast("array<int>")
    )
    lines = F.transform(
        idx, lambda i: F.array_join(F.slice(words, (i % 4) * 8 + 1, 6), " ")
    )
    deduped = F.array_distinct(lines)
    return docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(deduped).alias("n_distinct"),
        F.round(
            F.try_divide(F.size(deduped), F.size(lines)), 6
        ).alias("distinct_ratio"),
        F.md5(F.array_join(deduped, "\n").cast("binary")).alias("digest"),
    )


def url_dedup_best_doc_q(spark, sf_dir):
    """Canonical-URL dedup — the step after url_normalize in a crawl
    pipeline: many raw spellings of one resource collapse onto one
    canonical URL, and ONE representative document is kept per
    resource (longest text, ties to the smallest doc_id — the
    CommonCrawl 'best copy' rule). Raw URLs are synthesized messy
    (mixed-case scheme/host, default port, doubled slashes, utm_
    params, fragment) so the group KEY itself is produced by the full
    normalization pipeline; the oracle builds each doc's canonical
    form analytically — the counts and winners agree only if
    url_normalize canonicalizes every spelling correctly. ONE hash
    exchange on the canonical URL; winner via map-side-combined
    max_by."""
    from bazof_spark.functions.url import url_normalize

    d = F.col("doc_id")
    docs = _docs(spark, sf_dir)
    scheme = F.when(d % 3 == 0, F.lit("HTTPS")).when(
        d % 3 == 1, F.lit("HtTpS")
    ).otherwise(F.lit("https"))
    raw = F.concat(
        scheme,
        F.lit("://SiTe"), (d % 29).cast("string"), F.lit(".CoM"),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("//res"), (d % 7).cast("string"), F.lit("//"),
        F.lit("?utm_campaign=x&a="), (d % 3).cast("string"),
        F.lit("#top"),
    )
    u = docs.select(
        url_normalize(raw).alias("url_norm"),
        F.length("text").alias("tl"),
        d,
    )
    return u.groupBy("url_norm").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.max("tl").alias("max_len"),
        F.max_by(
            "doc_id", F.struct(F.col("tl").alias("a"), (-d).alias("b"))
        ).alias("best_doc"),
    )


def audio_vad_energy_q(spark, sf_dir):
    """Energy-based voice-activity detection over REAL WAV bytes — the
    segmentation step an audio training pipeline runs before
    transcription: per doc a deterministic int16 waveform alternating
    loud and near-silent 200-sample frames (closed-form samples both
    engines can build), encoded as an actual PCM WAV file, decoded
    back through the in-repo parser (operators/multimodal.decode_wav),
    framed, and reduced to frame energies -> voiced-frame count, first
    voiced frame, and the exact int64 energy sum. Two map-only
    Arrow-batched stages, zero shuffles; the oracle recomputes every
    sample with generate_series + integer arithmetic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from bazof_spark.operators.multimodal import decode_wav, encode_wav

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 1000 + (mid % 4) * 200
                i = np.arange(n, dtype=np.int64)
                frame = i // 200
                voiced = (frame + mid) % 3 == 0
                loud = ((mid * 31 + i * 37) % 4001) - 2000
                quiet = ((mid + i) % 41) - 20
                samples = np.where(voiced, loud, quiet).astype(np.int16)
                blobs.append(encode_wav(samples, sample_rate=16000))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": blobs}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("n_voiced", IntegerType(), False),
            StructField("first_voiced", IntegerType(), False),
            StructField("energy_sum", LongType(), False),
        ]
    )

    def vad(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                _sr, _ch, samples = decode_wav(bytes(blob))
                s = samples.astype(np.int64)
                nf = len(s) // 200
                energies = (
                    (s[: nf * 200] ** 2).reshape(nf, 200).sum(axis=1)
                )
                voiced = energies > 10_000_000
                first = int(np.argmax(voiced)) if voiced.any() else -1
                out.append(
                    (
                        mid, nf, int(voiced.sum()), first,
                        int(energies.sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_frames", "n_voiced", "first_voiced",
                    "energy_sum",
                ],
            )

    return media.mapInPandas(vad, schema)


def parquet_footer_stats_q(spark, sf_dir):
    """The container itself under the from-spec microscope: per doc a
    real parquet file is WRITTEN by pyarrow (the C implementation,
    4-row row groups, codec rotating snappy/gzip/zstd) and its footer
    parsed back by the repo's own Thrift compact-protocol reader
    (operators/parquetmeta — the independent twin of the C/JVM footer
    readers everything else trusts), reducing to row/row-group counts,
    the codec id, and the INT64 min/max statistics decoded from their
    plain-encoded bytes. The DuckDB oracle recomputes every value
    analytically from the synthesis formula — agreement proves the
    varint/zigzag/field-id walk byte-perfect at corpus scale. Two
    map-only Arrow-batched stages, zero exchanges."""
    import io

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bazof_spark.operators.parquetmeta import (
        decode_int64_stat,
        parse_parquet_footer,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    codecs = ("snappy", "gzip", "zstd")

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 5 + mid % 7
                t = pa.table(
                    {
                        "a": pa.array(
                            [mid + i for i in range(n)], type=pa.int64()
                        ),
                        "b": pa.array(
                            [f"s{mid}_{i}" for i in range(n)],
                            type=pa.string(),
                        ),
                    }
                )
                buf = io.BytesIO()
                pq.write_table(
                    t, buf, compression=codecs[mid % 3], row_group_size=4
                )
                blobs.append(buf.getvalue())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": blobs}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_row_groups", IntegerType(), False),
            StructField("codec", StringType(), False),
            StructField("vmin", LongType(), False),
            StructField("vmax", LongType(), False),
            StructField("n_values", LongType(), False),
        ]
    )

    def parse(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                meta = parse_parquet_footer(bytes(blob))
                groups = meta["row_groups"]
                a_chunks = [
                    c
                    for g in groups
                    for c in g["columns"]
                    if c["path_in_schema"] == ["a"]
                ]
                out.append(
                    (
                        mid,
                        meta["num_rows"],
                        len(groups),
                        a_chunks[0]["codec"],
                        decode_int64_stat(
                            a_chunks[0]["statistics"]["min_value"]
                        ),
                        decode_int64_stat(
                            a_chunks[-1]["statistics"]["max_value"]
                        ),
                        sum(c["num_values"] for c in a_chunks),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_rows", "n_row_groups", "codec",
                    "vmin", "vmax", "n_values",
                ],
            )

    return media.mapInPandas(parse, schema)


def parquet_column_roundtrip_q(spark, sf_dir):
    """Parquet write → read round trip per document: pyarrow WRITES a
    real file (dictionary + snappy defaults — the production layout)
    and reads both columns back with its projected parquet reader.
    The reduction (row count, int64 sum with nulls skipped, md5 of the
    joined strings) only matches the analytic DuckDB oracle if every
    null, value and string survives the round trip on every document.
    Two map-only Arrow-batched stages, zero exchanges."""
    import hashlib
    import io

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 8 + mid % 9
                t = pa.table(
                    {
                        "a": pa.array(
                            [
                                None if i % 4 == 3 else mid * 3 + i
                                for i in range(n)
                            ],
                            type=pa.int64(),
                        ),
                        "s": pa.array(
                            [f"w{(mid + i) % 5}" for i in range(n)],
                            type=pa.string(),
                        ),
                    }
                )
                buf = io.BytesIO()
                pq.write_table(t, buf, row_group_size=5)
                blobs.append(buf.getvalue())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": blobs}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_nulls", LongType(), False),
            StructField("a_sum", LongType(), False),
            StructField("s_digest", StringType(), False),
        ]
    )

    def decode(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                back = pq.read_table(pa.BufferReader(blob), columns=["a", "s"])
                a = back["a"].to_pylist()
                joined = "|".join(back["s"].to_pylist())
                out.append(
                    (
                        mid,
                        len(a),
                        sum(1 for v in a if v is None),
                        sum(v for v in a if v is not None),
                        hashlib.md5(joined.encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_rows", "n_nulls", "a_sum", "s_digest",
                ],
            )

    return media.mapInPandas(decode, schema)


QUERIES_R10 = {
    "parquet_footer_stats": parquet_footer_stats_q,
    "parquet_column_roundtrip": parquet_column_roundtrip_q,
    "c4_quality_filter": c4_quality_filter_q,
    "line_dedup_within_doc": line_dedup_within_doc_q,
    "url_dedup_best_doc": url_dedup_best_doc_q,
    "audio_vad_energy": audio_vad_energy_q,
}

ORACLES_R10 = {
    # every output recomputed analytically from the synthesis formula —
    # the footer values only match if the thrift walk is byte-perfect
    "parquet_footer_stats": """
        SELECT doc_id AS media_id,
               CAST(5 + doc_id % 7 AS BIGINT) AS n_rows,
               CAST(ceil((5 + doc_id % 7) / 4.0) AS INT) AS n_row_groups,
               CASE doc_id % 3 WHEN 0 THEN 'SNAPPY'
                    WHEN 1 THEN 'GZIP' ELSE 'ZSTD' END AS codec,
               CAST(doc_id AS BIGINT) AS vmin,
               CAST(doc_id + 4 + doc_id % 7 AS BIGINT) AS vmax,
               CAST(5 + doc_id % 7 AS BIGINT) AS n_values
        FROM documents
    """,
    "c4_quality_filter": f"""
        WITH pages AS ({_PAGE_LINES_SQL}),
        g AS (
            SELECT doc_id, ls,
                   list_filter(ls, l ->
                       regexp_matches(l, '[.!?"]$')
                       AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5
                       AND NOT contains(lower(l), 'javascript')) AS kept,
                   len(list_filter(ls, l ->
                       contains(l, '{{') OR contains(lower(l),
                                                     'lorem ipsum'))) > 0
                       AS trap
            FROM pages
        )
        SELECT doc_id,
               CAST(len(ls) AS INT) AS n_lines,
               CAST(len(kept) AS INT) AS n_kept_lines,
               CAST(CASE WHEN NOT trap AND len(kept) >= 3
                         THEN 1 ELSE 0 END AS INT) AS keep,
               md5(COALESCE(array_to_string(kept, chr(10)), '')) AS digest
        FROM g
    """,
    "line_dedup_within_doc": """
        WITH built AS (
            SELECT doc_id,
                   CASE WHEN nb > 0 THEN list_transform(range(nb), i ->
                        array_to_string(
                            list_slice(ws, (i % 4) * 8 + 1,
                                       (i % 4) * 8 + 6), ' '))
                        ELSE CAST([] AS VARCHAR[]) END AS ls
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ws,
                       CAST(floor(len(regexp_split_to_array(
                           trim(text), '\\s+')) / 8) AS INT) AS nb
                FROM documents
            )
        ),
        dd AS (
            SELECT doc_id, ls,
                   list_filter(ls, (x, i) -> list_position(ls, x) = i)
                       AS deduped
            FROM built
        )
        SELECT doc_id,
               CAST(len(ls) AS INT) AS n_lines,
               CAST(len(deduped) AS INT) AS n_distinct,
               round(CASE WHEN len(ls) > 0
                          THEN len(deduped) * 1.0 / len(ls) END, 6)
                   AS distinct_ratio,
               md5(COALESCE(array_to_string(deduped, chr(10)), '')) AS digest
        FROM dd
    """,
    # the canonical form built ANALYTICALLY — agreement proves the
    # Spark side's full normalization collapsed every messy spelling
    "url_dedup_best_doc": """
        WITH c AS (
            SELECT doc_id,
                   CAST(length(text) AS INT) AS tl,
                   'https://site' || (doc_id % 29) || '.com/res'
                       || (doc_id % 7) || '?a=' || (doc_id % 3) AS url_norm
            FROM documents
        ),
        r AS (
            SELECT url_norm, doc_id,
                   row_number() OVER (
                       PARTITION BY url_norm
                       ORDER BY tl DESC, doc_id ASC
                   ) AS rn
            FROM c
        ),
        a AS (
            SELECT url_norm,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   CAST(MAX(tl) AS INT) AS max_len
            FROM c GROUP BY url_norm
        )
        SELECT a.url_norm, a.n_dups, a.max_len, r.doc_id AS best_doc
        FROM a JOIN r ON r.url_norm = a.url_norm AND r.rn = 1
    """,
    # every value rebuilt analytically: i in 0..n-1 with n = 8+doc%9,
    # a[i] = NULL when i%4=3 else doc*3+i, s[i] = 'w' || (doc+i)%5
    "parquet_column_roundtrip": """
        WITH g AS (
            SELECT d.doc_id,
                   CAST(8 + d.doc_id % 9 AS BIGINT) AS n,
                   g.i
            FROM (SELECT doc_id FROM documents) d,
                 LATERAL (
                     SELECT unnest(range(8 + (d.doc_id % 9))) AS i
                 ) g
        )
        SELECT doc_id AS media_id,
               n AS n_rows,
               CAST(SUM(CASE WHEN i % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(SUM(CASE WHEN i % 4 = 3 THEN 0
                             ELSE doc_id * 3 + i END) AS BIGINT) AS a_sum,
               md5(string_agg('w' || ((doc_id + i) % 5), '|' ORDER BY i))
                   AS s_digest
        FROM g GROUP BY doc_id, n
    """,
    "audio_vad_energy": """
        WITH s AS (
            SELECT d.doc_id,
                   CAST(g.i // 200 AS INT) AS f,
                   CAST(CASE WHEN ((g.i // 200) + d.doc_id) % 3 = 0
                        THEN ((d.doc_id * 31 + g.i * 37) % 4001) - 2000
                        ELSE ((d.doc_id + g.i) % 41) - 20
                   END AS BIGINT) AS smp
            FROM (SELECT doc_id FROM documents) d,
                 LATERAL (
                     SELECT unnest(range(1000 + (d.doc_id % 4) * 200)) AS i
                 ) g
        ),
        fe AS (
            SELECT doc_id, f, SUM(smp * smp) AS e
            FROM s GROUP BY doc_id, f
        )
        SELECT doc_id AS media_id,
               CAST(COUNT(*) AS INT) AS n_frames,
               CAST(SUM(CASE WHEN e > 10000000 THEN 1 ELSE 0 END) AS INT)
                   AS n_voiced,
               CAST(COALESCE(MIN(CASE WHEN e > 10000000 THEN f END), -1)
                   AS INT) AS first_voiced,
               CAST(SUM(e) AS BIGINT) AS energy_sum
        FROM fe GROUP BY doc_id
    """,
}
