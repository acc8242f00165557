"""Multimodal + Structured Streaming workload entries.

q60 exercises REAL media decoding end-to-end (round 3): each document
id is encoded into an actual wire-format payload (24-bit BMP / RGB PNG
/ binary PPM / 16-bit PCM WAV, cycling by id) by the stdlib encoders,
then parsed back by the INDEPENDENT stdlib decoders
(operators/media_codecs.py) inside an Arrow-batched ``mapInPandas``.
Because every pixel/sample is a closed-form integer function of
(doc_id, x, y), the DuckDB oracle recomputes the decoded width/height/
channel-sums analytically — a decoder bug in row padding, BGR order,
bottom-up flipping, PNG unfiltering, or RIFF chunk walking flips the
value hash.

q61 runs the streaming tumbling-window job with an availableNow trigger
over a staged copy of the events table — checkpointed, synchronous,
rows-only (the driver's oracle runs batch SQL; the batch twin q20
already pins the window semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.operators.multimodal import (
    as_media_frame,
    decode_media,
    synthesize_media,
)


def q60_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode real BMP/PNG/PPM/WAV payloads from doc ids, then decode
    them with the independent stdlib parsers: integer-exact typed
    metadata out (image channel sums / PCM absolute sums), verified
    analytically by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(synthesize_media(docs, "doc_id")).orderBy("doc_id")


def q100_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF87a/89a end-to-end (round 4, VERDICT r3 #9): every document's
    closed-form raster is palette-quantized and LZW-compressed into a
    real GIF by the stdlib encoder, then parsed back by the INDEPENDENT
    stdlib decoder (variable-width LZW, sub-block reassembly, color-
    table mapping — operators/media_codecs.py::decode_gif). The oracle
    recomputes the decoded channel sums analytically, so a bug in the
    LZW width schedule or palette order flips the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        decode_media(synthesize_media(docs, "doc_id", kind="gif"))
        .select("doc_id", "kind", "width", "height", "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    )


def q61_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of q20: stage events as microsecond
    parquet, stream it back with availableNow + checkpoint, aggregate
    into tumbling windows, and read the durable snapshot back.

    Lifecycle: one work dir per Spark application
    (``session.work_dir``, keyed by applicationId), wiped and recreated
    on each invocation — repeated runs in a session leave no orphan
    staging/checkpoint dirs, and the result round-trips through the
    parquet snapshot sink instead of a global temp-view side channel."""
    from batchprocessingetl_spark.session import work_dir
    from batchprocessingetl_spark.sources.readers import fs_delete
    from batchprocessingetl_spark.streaming.jobs import (
        run_snapshot_to_parquet,
        stream_events,
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    work = work_dir(spark, "stream")
    fs_delete(spark, work)
    src = os.path.join(work, "events")
    out = os.path.join(work, "out")
    ev.write.mode("overwrite").parquet(src)
    agg = windowed_event_counts(stream_events(spark, src), "1 hour")
    run_snapshot_to_parquet(agg, os.path.join(work, "ckpt"), out)
    return spark.read.parquet(out).orderBy("window_start", "event_type")


def q62_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (1 media row -> N frame rows inside the
    Arrow batch): documents' bytes as pseudo-video payloads, chunked to
    64-byte frames, every 4th kept. Byte-exact oracle: the emitted
    frames are compared as hex slices of the source payload."""
    from batchprocessingetl_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = as_media_frame(
        docs.withColumn("payload", F.encode("text", "UTF-8")), "doc_id", "payload", "video"
    )
    fr = sample_frames(media, frame_bytes=64, every_n=4)
    return fr.select(
        "doc_id", "frame_idx", "n_frame_bytes", F.hex("frame").alias("frame_hex")
    ).orderBy("doc_id", "frame_idx")


# q61 has no ORACLE entry: a streaming drain is rows-only, and its
# window semantics are pinned by the oracle-checked batch twin q20.
QUERIES = {
    "q60_multimodal_features": q60_multimodal_features,
    "q61_streaming_hourly": q61_streaming_hourly,
    "q62_frame_sampling": q62_frame_sampling,
    "q100_gif_decode": q100_gif_decode,
}

ORACLE = {
    # Analytic recomputation of the DECODED values: pixels/samples are
    # closed-form in (doc_id, x, y) — see media_codecs.synth_raster /
    # synth_samples. If the Spark side mis-parses any wire format, its
    # sums diverge from these.
    "q60_multimodal_features": """
        WITH img AS (
            SELECT doc_id, (4 + doc_id % 13) AS w, (4 + doc_id % 7) AS h
            FROM documents WHERE doc_id % 4 <> 3
        ), px AS (
            SELECT i.doc_id, i.w, i.h, u.x, v.y
            FROM img i,
                 UNNEST(range(0, i.w)) AS u(x),
                 UNNEST(range(0, i.h)) AS v(y)
        ), isum AS (
            SELECT doc_id,
                   MAX(w) AS w, MAX(h) AS h,
                   SUM((31 * doc_id + 7 * x + 13 * y) % 256) AS sum_r,
                   SUM((17 * doc_id + 5 * x + 11 * y) % 256) AS sum_g,
                   SUM((23 * doc_id + 3 * x + 19 * y) % 256) AS sum_b
            FROM px GROUP BY doc_id
        ), wav AS (
            SELECT doc_id, (32 + doc_id % 50) AS n
            FROM documents WHERE doc_id % 4 = 3
        ), smp AS (
            SELECT w.doc_id, w.n, u.i
            FROM wav w, UNNEST(range(0, w.n)) AS u(i)
        ), wsum AS (
            SELECT doc_id, MAX(n) AS n,
                   SUM(ABS(((7 * doc_id + 13 * i) % 2048) - 1024)) AS sum_abs
            FROM smp GROUP BY doc_id
        )
        SELECT i.doc_id,
               CASE i.doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                                 ELSE 'ppm' END AS kind,
               i.w::INT AS width, i.h::INT AS height,
               i.sum_r::BIGINT AS sum_r, i.sum_g::BIGINT AS sum_g,
               i.sum_b::BIGINT AS sum_b,
               NULL::INT AS sample_rate, NULL::INT AS n_samples,
               NULL::BIGINT AS sum_abs
        FROM isum i
        UNION ALL
        SELECT w.doc_id, 'wav' AS kind,
               NULL::INT, NULL::INT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT,
               (8000 + 1000 * (w.doc_id % 5))::INT AS sample_rate,
               w.n::INT AS n_samples,
               w.sum_abs::BIGINT AS sum_abs
        FROM wsum w
        ORDER BY doc_id
    """,
    # q61: streaming surface, rows-only (batch twin q20 pins semantics).
    "q62_frame_sampling": """
        WITH f AS (
            SELECT doc_id, hex(encode(text)) AS ph,
                   octet_length(encode(text)) // 64 AS n
            FROM documents
        ), idx AS (
            SELECT doc_id, ph, unnest(range(0, n, 4)) AS frame_idx
            FROM f WHERE n > 0
        )
        SELECT doc_id, frame_idx::INT AS frame_idx, 64::INT AS n_frame_bytes,
               substring(ph, frame_idx::INT * 128 + 1, 128) AS frame_hex
        FROM idx
        ORDER BY doc_id, frame_idx
    """,
}

# q100: the q60 analytic raster oracle, with every document an image
# (no wav split) and the wire format pinned to GIF.
ORACLE["q100_gif_decode"] = """
    WITH img AS (
        SELECT doc_id, (4 + doc_id % 13) AS w, (4 + doc_id % 7) AS h
        FROM documents
    ), px AS (
        SELECT i.doc_id, i.w, i.h, u.x, v.y
        FROM img i,
             UNNEST(range(0, i.w)) AS u(x),
             UNNEST(range(0, i.h)) AS v(y)
    )
    SELECT doc_id, 'gif' AS kind,
           MAX(w)::INT AS width, MAX(h)::INT AS height,
           SUM((31 * doc_id + 7 * x + 13 * y) % 256)::BIGINT AS sum_r,
           SUM((17 * doc_id + 5 * x + 11 * y) % 256)::BIGINT AS sum_g,
           SUM((23 * doc_id + 3 * x + 19 * y) % 256)::BIGINT AS sum_b
    FROM px GROUP BY doc_id
    ORDER BY doc_id
"""


DOMFREQ_N = 64
DOMFREQ_MAXBIN = 12


def q195_dominant_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral feature extraction through the REAL WAV pipeline
    (operators/multimodal.py::dominant_frequency): synthesize a pure
    tone per document, encode/decode real RIFF PCM, numpy-rfft the
    decoded samples inside Arrow-batched mapInPandas, report the
    dominant DFT bin. Closed-form oracle: the tone sits at bin
    1 + doc_id % 12 by construction, and the PCM round-trip must be
    sample-exact."""
    from batchprocessingetl_spark.operators.multimodal import dominant_frequency

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return dominant_frequency(
        docs, "doc_id", n=DOMFREQ_N, max_bin=DOMFREQ_MAXBIN
    ).orderBy("doc_id")


QUERIES["q195_dominant_frequency"] = q195_dominant_frequency
ORACLE["q195_dominant_frequency"] = f"""
    SELECT doc_id,
           8000 AS sample_rate,
           {DOMFREQ_N} AS n_samples,
           CAST(1 + doc_id % {DOMFREQ_MAXBIN} AS INTEGER) AS dom_bin,
           TRUE AS roundtrip_exact
    FROM documents
    WHERE doc_id % 3 = 0
    ORDER BY doc_id
"""
