"""Multimodal column plumbing (north-star extension).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, the standard lakehouse layout for multimodal
training data. The Spark-side plumbing (schema, batch iteration, Arrow
transfer, partition sizing) is real and tested, and since round 3 the
decode step is REAL too: ``decode_real`` parses four actual wire
formats (24-bit BMP, binary PPM, 8-bit RGB PNG, 16-bit PCM WAV) with
the pure-stdlib codecs in ``operators/media_codecs.py``.
``decode_stub`` remains only as the explicit fallback for formats
outside that set (JPEG/MP4/... need libraries absent from this
environment); swap ``media_codecs``' dispatch for PIL/libav in a real
deployment.

Scale notes: payloads ride ``mapInPandas`` (Arrow batches), so bytes
never materialize as Python lists row-by-row; decode parallelism ==
partition count, so size input partitions to ~128 MB of payload
(``spark.sql.files.maxPartitionBytes``) to bound executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batchprocessingetl_spark.operators import media_codecs as codecs

FEATURE_SCHEMA = (
    "doc_id long, kind string, n_bytes long, content_hash string, feature array<float>"
)


def as_media_frame(df: DataFrame, id_col: str, payload_col: str, kind: str) -> DataFrame:
    """Normalize to the canonical media layout:
    (doc_id, kind, payload binary, meta struct)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(kind).alias("kind"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.named_struct(
            F.lit("n_bytes"), F.octet_length(F.col(payload_col).cast("binary")).cast("long"),
        ).alias("meta"),
    )


def decode_real(payload: bytes, kind: str = "auto") -> dict:
    """Real media decode: sniff the wire format by magic bytes and
    parse it with the stdlib codecs (``operators/media_codecs.py``).

    Returns integer-exact typed metadata so differential oracles need
    no float tolerance:
      images -> {kind, width, height, sum_r, sum_g, sum_b}
      audio  -> {kind, sample_rate, n_samples, sum_abs}

    Raises ``ValueError`` for formats outside bmp/png/ppm/wav — callers
    that tolerate exotic payloads should catch it and fall back to
    ``decode_stub`` (see ``extract_features``)."""
    fmt = codecs.sniff_format(payload)
    if fmt is None:
        raise ValueError(
            f"unrecognized media payload (kind hint {kind!r}); stdlib codecs "
            "cover bmp/png/ppm/wav — wire PIL/libav here for other formats"
        )
    if fmt == "wav":
        rate, samples = codecs.decode_wav(payload)
        return {
            "kind": fmt,
            "sample_rate": rate,
            "n_samples": len(samples),
            "sum_abs": sum(abs(s) for s in samples),
        }
    w, h, rgb = codecs.IMAGE_DECODERS[fmt](payload)
    return {
        "kind": fmt,
        "width": w,
        "height": h,
        "sum_r": sum(rgb[0::3]),
        "sum_g": sum(rgb[1::3]),
        "sum_b": sum(rgb[2::3]),
    }


def decode_stub(payload: bytes, kind: str, dim: int = 8) -> list[float]:
    """Deterministic fake 'feature extraction': bytes -> fixed-dim
    float vector via a rolling byte hash. Stands in for an image/audio
    encoder so the distributed plumbing is exercised end-to-end."""
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] = (acc[i % dim] * 31 + b) % 1_000_003
    return [v / 1_000_003.0 for v in acc]


def _feature_vector(payload: bytes) -> list[float]:
    """Dim-8 feature: real decoded metadata for recognized formats
    (normalized image channel means / audio stats), ``decode_stub``
    rolling-hash otherwise — the explicit exotic-format fallback."""
    try:
        d = decode_real(payload)
    except ValueError:
        return decode_stub(payload, "stub")
    if d["kind"] == "wav":
        n = max(d["n_samples"], 1)
        return [
            2.0,
            float(d["sample_rate"]) / 48_000.0,
            float(d["n_samples"]) / 65_536.0,
            d["sum_abs"] / (n * 1024.0),
            0.0,
            0.0,
            0.0,
            0.0,
        ]
    px = max(d["width"] * d["height"], 1)
    return [
        1.0,
        float(d["width"]) / 4096.0,
        float(d["height"]) / 4096.0,
        d["sum_r"] / (px * 255.0),
        d["sum_g"] / (px * 255.0),
        d["sum_b"] / (px * 255.0),
        0.0,
        0.0,
    ]


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over Arrow batches with ``mapInPandas``.

    Per batch: payload bytes -> (n_bytes, md5 content hash, feature
    vector — real decoded stats for bmp/png/ppm/wav payloads, stub
    fallback for anything else). The UDF sees pandas Series of bytes —
    zero per-row Python call overhead beyond the decode itself."""
    import hashlib

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_hash": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "feature": payloads.map(_feature_vector),
                }
            )

    return media.mapInPandas(fe, schema=FEATURE_SCHEMA)


DECODED_SCHEMA = (
    "doc_id long, kind string, width int, height int, sum_r long, sum_g long, "
    "sum_b long, sample_rate int, n_samples int, sum_abs long"
)


def decode_media(media: DataFrame) -> DataFrame:
    """Real decode over Arrow batches: every payload is parsed from its
    wire format (BMP/PNG/PPM/WAV) into integer-exact typed metadata —
    image rows carry (width, height, channel sums), audio rows carry
    (sample_rate, n_samples, sum |s|); inapplicable fields are null.
    One row in -> one row out; decode cost is the only Python work and
    parallelism follows the input partitioning."""

    def dm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_real(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": [r["kind"] for r in rows],
                    "width": pd.array([r.get("width") for r in rows], dtype="Int32"),
                    "height": pd.array([r.get("height") for r in rows], dtype="Int32"),
                    "sum_r": pd.array([r.get("sum_r") for r in rows], dtype="Int64"),
                    "sum_g": pd.array([r.get("sum_g") for r in rows], dtype="Int64"),
                    "sum_b": pd.array([r.get("sum_b") for r in rows], dtype="Int64"),
                    "sample_rate": pd.array(
                        [r.get("sample_rate") for r in rows], dtype="Int32"
                    ),
                    "n_samples": pd.array(
                        [r.get("n_samples") for r in rows], dtype="Int32"
                    ),
                    "sum_abs": pd.array([r.get("sum_abs") for r in rows], dtype="Int64"),
                }
            )

    return media.mapInPandas(dm, schema=DECODED_SCHEMA)


def synthesize_media(
    ids: DataFrame, id_col: str = "doc_id", kind: str | None = None
) -> DataFrame:
    """Encode a deterministic real media payload per id (kind cycles
    bmp/png/ppm/wav, or is forced to ``kind`` for single-format
    fixtures; closed-form rasters/samples — see
    ``media_codecs.synthesize_payload``). Arrow-batched; used to build
    multimodal fixtures at any scale without shipping binary files."""

    def sy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [
                codecs.synthesize_payload(int(i))
                if kind is None
                else codecs.synthesize_payload_as(int(i), kind)
                for i in pdf[id_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "kind": [k for k, _ in pairs],
                    "payload": [p for _, p in pairs],
                }
            )

    return ids.select(id_col).mapInPandas(
        sy, schema="doc_id long, kind string, payload binary"
    )


RESIZED_SCHEMA = "doc_id long, kind string, payload binary, width int, height int"

FRAME_SCHEMA = "doc_id long, frame_idx int, n_frame_bytes int, frame binary"


def resize_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize: output bytes derived from the input,
    sized to the target raster (stands in for decode->resize->encode;
    see ``decode_real`` for the production seam)."""
    if not payload:
        return b""
    out_len = max(1, min(len(payload), (width * height) // 64))
    reps = out_len // len(payload) + 1
    return (payload * reps)[:out_len]


def resize_images(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Batch image resize over Arrow batches (1 row in -> 1 row out):
    REAL decode -> nearest-neighbor resample -> re-encode in the same
    wire format for bmp/png/ppm payloads
    (``media_codecs.resize_image_payload``); non-image or exotic
    payloads keep the documented ``resize_stub`` fallback. The payload
    never leaves the executor; output partitioning follows the input,
    so a downstream per-image feature pass needs no shuffle."""

    def one(b: bytes) -> bytes:
        try:
            return codecs.resize_image_payload(b, width, height)
        except ValueError:
            return resize_stub(b, width, height)

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "payload": pdf["payload"].map(one),
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(rz, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, frame_bytes: int = 64, every_n: int = 4) -> DataFrame:
    """Video frame sampling shape: 1 row in -> N rows out. The payload
    is chunked into fixed-size pseudo-frames and every ``every_n``-th
    frame is emitted as its own row (a real deployment decodes
    keyframes here). Row expansion happens inside the Arrow batch —
    the fan-out never crosses the Python/JVM boundary row-by-row, and
    the output row count is bounded by payload_size / (frame_bytes *
    every_n), so partition memory stays proportional to input size."""

    def fs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload) // frame_bytes
                for i in range(0, n, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(payload[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_frame_bytes": pd.Series([len(f) for f in frames], dtype="int32"),
                    "frame": pd.Series(frames, dtype=object),
                }
            )

    return media.mapInPandas(fs, schema=FRAME_SCHEMA)


DOMFREQ_SCHEMA = (
    "doc_id long, sample_rate int, n_samples int, dom_bin int, "
    "roundtrip_exact boolean"
)


def dominant_frequency(
    ids: DataFrame, id_col: str = "doc_id", n: int = 64, max_bin: int = 12
) -> DataFrame:
    """Real audio DSP through the full WAV pipeline: synthesize a pure
    tone at DFT bin ``1 + id % max_bin`` (amplitude-1000 sine, ``n``
    samples), ENCODE it as a real 16-bit PCM RIFF/WAV, parse it back
    with the independent stdlib decoder, then find the dominant
    frequency bin with a numpy rfft over the decoded samples — the
    spectral-feature extraction step of an audio curation pipeline.

    An integer-cycle sine concentrates all DFT energy in its own bin
    (rounding the samples to ints adds ~0.05% sidelobes — argmax can't
    flip), so the dominant bin is CLOSED-FORM in doc_id and the DuckDB
    oracle pins the whole encode → decode → FFT chain analytically
    (the q60/q69 synthesize-inside-the-query discipline).
    ``roundtrip_exact`` asserts decoded PCM == synthesized PCM
    sample-for-sample, pinning codec exactness separately from the
    spectral read. Arrow-batched ``mapInPandas``; bytes never become
    rows; scan-parallel at any corpus size."""
    import math

    from batchprocessingetl_spark.operators import media_codecs as codecs

    rate = 8000

    def df_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id in pdf[id_col].tolist():
                bin_true = 1 + int(doc_id) % max_bin
                samples = [
                    int(round(1000.0 * math.sin(2.0 * math.pi * bin_true * i / n)))
                    for i in range(n)
                ]
                payload = codecs.encode_wav(rate, samples)
                got_rate, got_samples = codecs.decode_wav(payload)
                spec = np.abs(np.fft.rfft(np.asarray(got_samples, dtype=np.float64)))
                dom = int(np.argmax(spec[1:])) + 1  # skip DC
                out.append(
                    (
                        int(doc_id),
                        int(got_rate),
                        len(got_samples),
                        dom,
                        got_samples == samples,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "sample_rate",
                    "n_samples",
                    "dom_bin",
                    "roundtrip_exact",
                ],
            )

    return ids.select(F.col(id_col)).mapInPandas(df_batches, schema=DOMFREQ_SCHEMA)
