"""Round-11 workload extensions.

``multimodal_table_asof`` — the ``Binary`` column extension exercised
end-to-end: image blobs live INSIDE a versioned azof table
(``sources/media.py``) and are decoded at two as-of instants, proving
media payloads get the same time-travel semantics as scalar columns.
The v1 instant must decode only first-generation imagery; Current must
see the re-encoded third (the v2 upsert shadows v1 in the same
one-shuffle as-of merge) and first-generation blobs elsewhere. The
DuckDB oracle recomputes every stat from the deterministic pixel
formulas — a wrong merge result, a corrupted blob byte, or a BMP
layout mistake all change the position-weighted checksum.

Same contract as workload.py: identical column aliases in both
engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: paragraph_dedup_corpus broadcast gate — the frequent (df>2) set is
#: broadcast into the probe join only when its COUNTED row count is at
#: most this (≈ tens of MB of paragraph text, inside executor/driver
#: broadcast comfort); above it the probe falls back to a shuffled
#: left join on ptext. On real web corpora the frequent set scales
#: with the corpus, so the gate, not an assumption, decides the plan.
FREQUENT_BROADCAST_MAX = 1_000_000


def multimodal_table_asof_q(spark, sf_dir):
    """Op: Binary column + as-of time travel + upsert shadowing.

    Two legs, one per instant: scan ``media_versioned`` as-of BETWEEN
    (only v1 visible) and Current (v2 shadows v1 for doc_id % 3 == 0),
    decode the BMP blobs executor-side (Arrow-batched mapInPandas,
    zero exchanges per leg beyond the as-of merge itself), reduce to
    position-weighted pixel stats. ``rev`` rides along so the oracle
    also pins WHICH version won the merge at each instant."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import decode_bmp
    from bazof_spark.sources.media import BETWEEN, media_lakehouse

    lh = media_lakehouse(spark, sf_dir)

    schema = StructType(
        [
            StructField("instant", StringType(), False),
            StructField("media_id", LongType(), False),
            StructField("rev", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("checksum", LongType(), False),
            StructField("pos_checksum", LongType(), False),
        ]
    )

    def stats_for(tag):
        def batches(it):
            for pdf in it:
                out = []
                for mid, rev, blob in zip(
                    pdf["media_id"], pdf["rev"], pdf["content"]
                ):
                    px = decode_bmp(bytes(blob)).astype(np.int64)
                    h, w, _ = px.shape
                    y = np.arange(h).reshape(h, 1, 1)
                    x = np.arange(w).reshape(1, w, 1)
                    c = np.arange(3).reshape(1, 1, 3)
                    weights = y * 1_000_000 + x * 1_000 + c + 1
                    out.append(
                        (
                            tag,
                            int(mid),
                            int(rev),
                            w,
                            h,
                            int(px.sum()),
                            int((px * weights).sum()),
                        )
                    )
                yield pd.DataFrame(out, columns=[f.name for f in schema])

        return batches

    legs = []
    for tag, as_of in (("v1", BETWEEN), ("current", None)):
        df = lh.scan("media_versioned", as_of=as_of).select(
            F.col("key").cast("long").alias("media_id"), "rev", "content"
        )
        legs.append(df.mapInPandas(stats_for(tag), schema))
    return legs[0].unionAll(legs[1])


def parquet_nested_roundtrip_q(spark, sf_dir):
    """Nested parquet write → read round trip per document: pyarrow
    WRITES a real file carrying a ``list<int64>`` column (null lists,
    empty lists, null elements — the full Dremel def/rep-level
    alphabet) plus a DELTA_BINARY_PACKED int64 column, under a layout
    that rotates BY DOC over v1/v2 pages × snappy/zstd/uncompressed ×
    5-row row groups, and reads both columns back with its projected
    parquet reader. The reduction — list shape counts, element sums,
    and POSITION-weighted sums — only matches the analytic DuckDB
    oracle if list shapes, nulls and element order survive every
    layout. Two map-only Arrow-batched stages, zero exchanges."""
    import io

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from bazof_spark.workload_r10 import _docs

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 8 + mid % 9
                lists = []
                for i in range(n):
                    if i % 5 == 4:
                        lists.append(None)
                    elif i % 5 == 3:
                        lists.append([])
                    else:
                        lists.append(
                            [
                                None if (i + j) % 7 == 0 else mid + i * 10 + j
                                for j in range(1 + i % 3)
                            ]
                        )
                t = pa.table(
                    {
                        "l": pa.array(lists, type=pa.list_(pa.int64())),
                        "d": pa.array(
                            [mid * 7 + i * i for i in range(n)],
                            type=pa.int64(),
                        ),
                    }
                )
                buf = io.BytesIO()
                pq.write_table(
                    t,
                    buf,
                    row_group_size=5,
                    use_dictionary=False,
                    column_encoding={
                        "l.list.element": "PLAIN",
                        "d": "DELTA_BINARY_PACKED",
                    },
                    data_page_version="2.0" if mid % 2 == 0 else "1.0",
                    compression=["snappy", "zstd", "none"][mid % 3],
                )
                blobs.append(buf.getvalue())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": blobs}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    cols = [
        "media_id", "n_rows", "null_lists", "empty_lists", "n_elems",
        "null_elems", "elem_sum", "elem_pos_sum", "d_sum", "d_pos_sum",
    ]
    schema = StructType([StructField(c, LongType(), False) for c in cols])

    def decode(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                back = pq.read_table(pa.BufferReader(blob), columns=["l", "d"])
                lists, d = back["l"].to_pylist(), back["d"].to_pylist()
                n_elems = null_elems = elem_sum = elem_pos = 0
                for i, rec in enumerate(lists):
                    if not rec:
                        continue
                    for j, v in enumerate(rec):
                        if v is None:
                            null_elems += 1
                        else:
                            n_elems += 1
                            elem_sum += v
                            elem_pos += v * (i * 100 + j + 1)
                out.append(
                    (
                        int(mid),
                        len(lists),
                        sum(1 for r in lists if r is None),
                        sum(1 for r in lists if r == []),
                        n_elems,
                        null_elems,
                        elem_sum,
                        elem_pos,
                        sum(d),
                        sum(v * (i + 1) for i, v in enumerate(d)),
                    )
                )
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(decode, schema)


def paragraph_dedup_corpus_q(spark, sf_dir):
    """CROSS-corpus paragraph dedup (the Dolma/CCNet boilerplate-removal
    step — within-doc line dedup shipped in r10; this is the corpus-wide
    sibling): deterministic paragraphs per doc mix SHARED boilerplate
    ('subscribe variant k', repeated across many docs) with doc-unique
    content built from the doc's own words; any paragraph whose exact
    text appears in MORE THAN 2 distinct docs is dropped everywhere.

    100 TB shape: paragraph build is a JVM array projection; one hash
    exchange computes per-text doc frequency with map-side combine; the
    frequent set is SIZE-GATED (counted, never assumed bounded — on
    real web corpora CCNet/Dolma-class dedup finds the majority of
    paragraphs duplicated, so the df>2 set scales with the corpus):
    below ``FREQUENT_BROADCAST_MAX`` rows it is BROADCAST into the
    probe; above, the probe is a shuffled left join on ``ptext`` (two
    more exchanges, but no driver/executor OOM — the same
    size-dependent broadcast-vs-shuffle discipline as
    ``dedup_clusters``'s driver-vs-distributed gate, dedup.py). One
    final exchange re-groups per doc. No all-pairs anything."""
    from bazof_spark.workload_r10 import _docs

    d = F.col("doc_id")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    n_p = (F.lit(3) + d % 3).cast("int")
    para = lambda i: F.when(
        (d + 3 * i) % 4 == 0,
        F.concat(F.lit("subscribe variant "), ((d + i * 31) % 23).cast("string")),
    ).otherwise(
        F.concat(
            F.lit("d"), d.cast("string"), F.lit(" "),
            F.array_join(F.slice(ws, (i % 4) * 6 + 1, 5), " "),
        )
    )
    paras = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_p - 1), para)
        ).alias("i", "ptext"),
    )
    frequent = (
        paras.groupBy("ptext")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > 2)
        .select("ptext")
        .persist()  # the size probe and the join probe both read it
    )
    # size gate: COUNT the frequent set (capped count — limit(n+1)
    # stops the job as soon as the threshold is exceeded) instead of
    # assuming it is bounded; only a within-budget set is broadcast
    n_frequent = frequent.limit(FREQUENT_BROADCAST_MAX + 1).count()
    probe = frequent.withColumn("_drop", F.lit(True))
    if n_frequent <= FREQUENT_BROADCAST_MAX:
        probe = F.broadcast(probe)
    # flag instead of anti-join-then-rejoin: ONE probe join marks
    # dropped paragraphs, ONE final exchange aggregates everything per
    # doc (collect_list skips the null-when entries, so the digest is
    # kept-only in paragraph order)
    flagged = paras.join(probe, "ptext", "left")
    keep = F.col("_drop").isNull()
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_paras"),
        F.count(F.when(keep, 1)).cast("int").alias("n_kept"),
        F.count(F.when(~keep, 1)).cast("int").alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(keep, F.struct("i", "ptext"))
                        )
                    ),
                    lambda s: s["ptext"],
                ),
                "\n",
            )
        ).alias("kept_digest"),
    ).select("doc_id", "n_paras", "n_kept", "n_dropped", "kept_digest")


def image_dedup_ahash_q(spark, sf_dir):
    """PERCEPTUAL image dedup (average-hash): each doc synthesizes a
    16×16 RGB image whose content depends only on ``doc_id % 17`` — so
    the corpus carries ~n/17 distinct images under 17 deliberate
    duplicate classes — encodes it as a real BMP, and the pipeline
    DECODES the bytes back (operators/multimodal.decode_bmp), computes
    the 8×8 block-sum aHash in integer arithmetic (bit k = 1 iff
    64·block_sum_k > total_sum — exact, no float thresholds), and
    groups the corpus by hash. The oracle recomputes every block sum
    analytically from the pixel formula, so a decoder fault, a block
    boundary off-by-one, or a bit-order mistake all change the group
    keys. 100 TB shape: synth+decode+hash are two Arrow-batched map
    stages; the dedup is ONE hash exchange with map-side combine."""
    import numpy as np
    import pandas as pd

    from bazof_spark.operators.multimodal import decode_bmp, encode_bmp
    from bazof_spark.workload_r10 import _docs

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    def synth(it):
        for pdf in it:
            blobs = []
            for mid in pdf["media_id"]:
                s = int(mid) % 17
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(16).reshape(1, 16, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((s * 29 + 7 * y * y + 5 * x + 11 * c) % 256).astype(
                    np.uint8
                )
                blobs.append(encode_bmp(px))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": blobs}
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")

    def hash_batch(it):
        for pdf in it:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                px = decode_bmp(bytes(blob)).astype(np.int64)
                # 8x8 blocks of 2x2 pixels x 3 channels, integer sums
                blocks = px.reshape(8, 2, 8, 2, 3).sum(axis=(1, 3, 4))
                total = int(blocks.sum())
                bits = (64 * blocks > total).astype(np.uint8).reshape(64)
                out.append(
                    (int(mid), "".join("1" if b else "0" for b in bits))
                )
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    hashed = media.mapInPandas(hash_batch, "media_id long, ahash string")
    return hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.min("media_id").alias("keep_doc"),
        F.max("media_id").alias("last_doc"),
    )


# the oracle rebuilds the 64 block sums analytically from the pixel
# formula (seed = doc_id % 17; pixel = (29s + 7y² + 5x + 11c) % 256;
# block (by,bx) sums the 2×2×3 cell) and derives the identical
# integer-threshold bit string
_AHASH_ORACLE = """
    WITH seeds AS (
        SELECT doc_id, doc_id % 17 AS s FROM documents
    ),
    blocks AS (
        SELECT doc_id, s, g.b,
               (SELECT SUM((29 * s + 7 * ((g.b // 8) * 2 + dy)
                               * ((g.b // 8) * 2 + dy)
                            + 5 * ((g.b % 8) * 2 + dx) + 11 * c) % 256)
                FROM (SELECT unnest(range(2)) AS dy),
                     (SELECT unnest(range(2)) AS dx),
                     (SELECT unnest(range(3)) AS c)
               ) AS bsum
        FROM seeds, LATERAL (SELECT unnest(range(64)) AS b) g
    ),
    totals AS (
        SELECT doc_id, SUM(bsum) AS tsum FROM blocks GROUP BY doc_id
    ),
    hashes AS (
        SELECT bl.doc_id,
               string_agg(
                   CASE WHEN 64 * bl.bsum > t.tsum
                        THEN '1' ELSE '0' END,
                   '' ORDER BY bl.b) AS ahash
        FROM blocks bl JOIN totals t ON bl.doc_id = t.doc_id
        GROUP BY bl.doc_id
    )
    SELECT ahash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(doc_id) AS keep_doc,
           MAX(doc_id) AS last_doc
    FROM hashes GROUP BY ahash
"""


def ann_filtered_search_q(spark, sf_dir):
    """METADATA-FILTERED vector search — the production retrieval
    shape the plain ANN queries don't cover: each query vector
    searches only candidates satisfying a predicate (here: documents
    in the SAME language, the classic tenant/language-scoped search).
    Pre-filtering, not post-filtering: the predicate lands in the
    join condition BEFORE ranking, so top-k is computed over the
    filtered candidate set (a post-filter would silently return
    fewer than k).

    100 TB shape: the 20-query slice broadcasts over a map-only
    corpus pass (the lang equi-condition rides the broadcast join);
    only per-query top-k survivors reach the window exchange. The
    lang attach is one corpus-sized equi-join that at scale would be
    bucketed/co-partitioned on the id.

    Oracle-parity note: Spark computes dot(normalized, normalized)
    while the DuckDB twin uses list_cosine_similarity on raw vectors;
    differing summation order can move sims by last-ulp amounts. Both
    sides therefore rank on the similarity ROUNDED to 6 decimals (ties
    broken by cid), so a rank flip needs two candidates straddling the
    same 1e-6 grid boundary under a ~1e-15 cross-engine wobble —
    rather than any near-tie at all."""
    from bazof_spark.operators.similarity import dot, normalize
    from bazof_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id",
        normalize(F.col("embedding").cast("array<double>")).alias("vec"),
        "lang",
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("vec").alias("qv"),
        F.col("lang").alias("qlang"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("lang") == F.col("qlang"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            "qlang",
            F.col("vec_id").alias("cid"),
            F.round(dot(F.col("qv"), F.col("vec")), 6).alias("sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlang").alias("lang"),
            "rank",
            F.col("cid").alias("neighbor_id"),
        )
    )


_ANN_FILTERED_ORACLE = """
    WITH e AS (
        SELECT v.vec_id, CAST(v.embedding AS DOUBLE[]) AS vec, d.lang
        FROM embeddings v JOIN documents d ON v.vec_id = d.doc_id
    ),
    q AS (
        SELECT vec_id AS qid, vec AS qv, lang AS qlang
        FROM e WHERE vec_id < 20
    ),
    s AS (
        SELECT q.qid, q.qlang, e.vec_id AS cid,
               ROUND(list_cosine_similarity(q.qv, e.vec), 6) AS sim
        FROM q JOIN e ON e.lang = q.qlang AND e.vec_id <> q.qid
    ),
    r AS (
        SELECT qid, qlang, cid,
               row_number() OVER (
                   PARTITION BY qid ORDER BY sim DESC, cid
               ) AS rn
        FROM s
    )
    SELECT qid AS query_id, qlang AS lang,
           CAST(rn AS INT) AS rank, cid AS neighbor_id
    FROM r WHERE rn <= 5
"""


_PARA_ORACLE = """
    WITH built AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS ws,
               3 + doc_id % 3 AS np
        FROM documents
    ),
    paras AS (
        SELECT b.doc_id, g.i,
               CASE WHEN (b.doc_id + 3 * g.i) % 4 = 0
                    THEN 'subscribe variant ' || ((b.doc_id + g.i * 31) % 23)
                    ELSE 'd' || b.doc_id || ' ' || COALESCE(
                        array_to_string(
                            list_slice(b.ws, (g.i % 4) * 6 + 1,
                                       (g.i % 4) * 6 + 5), ' '), '')
               END AS ptext
        FROM built b, LATERAL (SELECT unnest(range(b.np)) AS i) g
    ),
    freq AS (
        SELECT ptext FROM (
            SELECT ptext, COUNT(DISTINCT doc_id) AS df
            FROM paras GROUP BY ptext
        ) WHERE df > 2
    ),
    kept AS (
        SELECT doc_id, i, ptext FROM paras
        WHERE ptext NOT IN (SELECT ptext FROM freq)
    ),
    k AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_kept,
               md5(string_agg(ptext, chr(10) ORDER BY i)) AS kept_digest
        FROM kept GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS INT) AS n_paras,
           CAST(COALESCE(MAX(k.n_kept), 0) AS INT) AS n_kept,
           CAST(COUNT(*) - COALESCE(MAX(k.n_kept), 0) AS INT) AS n_dropped,
           COALESCE(MAX(k.kept_digest), md5('')) AS kept_digest
    FROM paras p LEFT JOIN k ON p.doc_id = k.doc_id
    GROUP BY p.doc_id
"""


def _bmp_stat_sql(instant, formula, w, h, rev, where=""):
    """One oracle leg: recompute the pixel-formula stats directly."""
    return f"""
        SELECT '{instant}' AS instant,
               CAST(doc_id AS BIGINT) AS media_id,
               CAST({rev} AS BIGINT) AS rev,
               CAST({w} AS INT) AS width,
               CAST({h} AS INT) AS height,
               CAST(list_sum(list_transform(range(0, {h}), y ->
                   list_sum(list_transform(range(0, {w}), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           ({formula}) % 256))))))
                   AS BIGINT) AS checksum,
               CAST(list_sum(list_transform(range(0, {h}), y ->
                   list_sum(list_transform(range(0, {w}), x ->
                       list_sum(list_transform(range(0, 3), c ->
                           (({formula}) % 256)
                           * (y*1000000 + x*1000 + c + 1)))))))
                   AS BIGINT) AS pos_checksum
        FROM documents {where}
    """


_F1 = "2*doc_id + 5*y + 11*x + c"
_W1, _H1 = "3 + doc_id % 6", "2 + doc_id % 5"
_F2 = "doc_id + 13*y + 3*x + 2*c"
_W2, _H2 = "4 + doc_id % 4", "3 + doc_id % 3"

QUERIES_R11 = {
    "multimodal_table_asof": multimodal_table_asof_q,
    "parquet_nested_roundtrip": parquet_nested_roundtrip_q,
    "paragraph_dedup_corpus": paragraph_dedup_corpus_q,
    "image_dedup_ahash": image_dedup_ahash_q,
    "ann_filtered_search": ann_filtered_search_q,
}

# every value rebuilt analytically: n = 8 + doc%9 records; record i is
# NULL (i%5=4), [] (i%5=3), else a list of 1+(i%3) elements where
# element j = NULL when (i+j)%7=0 else doc + i*10 + j; the delta
# column is d[i] = doc*7 + i*i
_NESTED_ORACLE = """
    WITH recs AS (
        SELECT d.doc_id,
               CAST(8 + d.doc_id % 9 AS BIGINT) AS n,
               g.i
        FROM (SELECT doc_id FROM documents) d,
             LATERAL (SELECT unnest(range(8 + (d.doc_id % 9))) AS i) g
    ),
    elems AS (
        SELECT r.doc_id, r.i, e.j,
               CASE WHEN (r.i + e.j) % 7 = 0 THEN NULL
                    ELSE r.doc_id + r.i * 10 + e.j END AS v
        FROM recs r,
             LATERAL (SELECT unnest(range(1 + (r.i % 3))) AS j) e
        WHERE r.i % 5 NOT IN (3, 4)
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_elems,
               CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_elems,
               CAST(COALESCE(SUM(v), 0) AS BIGINT) AS elem_sum,
               CAST(COALESCE(SUM(v * (i * 100 + j + 1)), 0) AS BIGINT)
                   AS elem_pos_sum
        FROM elems GROUP BY doc_id
    ),
    shapes AS (
        SELECT doc_id, n,
               CAST(SUM(CASE WHEN i % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS null_lists,
               CAST(SUM(CASE WHEN i % 5 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS empty_lists,
               CAST(SUM(doc_id * 7 + i * i) AS BIGINT) AS d_sum,
               CAST(SUM((doc_id * 7 + i * i) * (i + 1)) AS BIGINT)
                   AS d_pos_sum
        FROM recs GROUP BY doc_id, n
    )
    SELECT s.doc_id AS media_id,
           s.n AS n_rows,
           s.null_lists,
           s.empty_lists,
           p.n_elems,
           p.null_elems,
           p.elem_sum,
           p.elem_pos_sum,
           s.d_sum,
           s.d_pos_sum
    FROM shapes s JOIN per_doc p ON s.doc_id = p.doc_id
"""

ORACLES_R11 = {
    # as-of BETWEEN sees every doc at rev 1 (formula f1); Current sees
    # rev 2 (f2) exactly where the upsert re-encoded (doc_id % 3 == 0)
    # and rev 1 elsewhere — the azof precedence rules re-derived from
    # the build recipe in sources/media.py
    "multimodal_table_asof": (
        _bmp_stat_sql("v1", _F1, _W1, _H1, 1)
        + " UNION ALL "
        + _bmp_stat_sql(
            "current", _F1, _W1, _H1, 1, "WHERE doc_id % 3 <> 0"
        )
        + " UNION ALL "
        + _bmp_stat_sql(
            "current", _F2, _W2, _H2, 2, "WHERE doc_id % 3 = 0"
        )
    ),
    "parquet_nested_roundtrip": _NESTED_ORACLE,
    "paragraph_dedup_corpus": _PARA_ORACLE,
    "image_dedup_ahash": _AHASH_ORACLE,
    "ann_filtered_search": _ANN_FILTERED_ORACLE,
}
