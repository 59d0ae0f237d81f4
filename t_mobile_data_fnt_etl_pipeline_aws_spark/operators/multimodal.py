"""Multimodal-column operators (SURVEY.md §2.11).

The engine's multimodal model: media payloads are opaque BINARY columns
with typed metadata alongside; decode / feature-extraction runs as
Arrow-batched Pandas functions over mapInPandas. The image/audio codec
libraries are not in this container, so the decode kernel is a clearly
marked STUB (deterministic byte-level features standing in for pixel
features) — the Spark-side plumbing (schema, batching, partition flow)
is real and oracle-tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load


@query(
    "q_multimodal_enrich",
    bench=False,
    oracle=f"""
    SELECT d.lang, e.label,
           count(*) AS n_docs,
           cast(sum(d.n_chars) as double) / count(*) AS avg_chars,
           min(d.doc_id) AS min_doc_id
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE e.label < 5
    GROUP BY d.lang, e.label
    """,
)
def q_multimodal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join text and vector modalities into one table, aggregate per label.

    documents ⋈ embeddings on doc_id = vec_id (inner — at sf0.1 the
    tables are deliberately unaligned, FIXTURES.md), filter by label,
    text stats per (lang, label). n_chars sums are exact BIGINT.
    """
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings").filter(F.col("label") < 5)
    return (
        d.join(e, d.doc_id == e.vec_id, "inner")
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


#: media-decode stub contract: real decoders (PIL/ffmpeg/soundfile) are not
#: available in this environment — decode_media() raises, and the feature
#: extractor below uses deterministic byte-level stand-ins instead.
def decode_media(payload: bytes, media_type: str):
    """Decode an image/audio/video payload to a numpy tensor. STUB."""
    raise NotImplementedError(
        "media codecs unavailable in this container; use the byte-level "
        "stub features in q_multimodal_decode_stub (same Spark plumbing)"
    )


@query(
    "q_multimodal_decode_stub",
    bench=False,
    oracle="""
    SELECT doc_id,
           cast(octet_length(encode(text)) as bigint) AS n_bytes,
           cast(ascii(text) as int) AS first_cp,
           cast(octet_length(encode(text)) % 256 as int) AS fake_width,
           cast(octet_length(encode(text)) // 256 as int) AS fake_height
    FROM documents
    """,
)
def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode/feature-extract plumbing over mapInPandas.

    The 'payload' is the utf-8 encoding of text (fixtures ship no real
    media); the extractor computes deterministic byte-level features where
    a real pipeline would call decode_media() and emit pixel/spectrogram
    features. Arrow batch shape, output schema, and partition flow are
    exactly what a production media pipeline uses.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            n_bytes = payload.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    # STUB: real decode -> decode_media(payload, "image");
                    # stand-in features below are deterministic byte math.
                    # first code point (not first byte): DuckDB's ascii()
                    # returns the Unicode code point, and b[0] would both
                    # diverge on non-ASCII leads and raise on empty text.
                    "first_cp": payload.map(
                        lambda b: ord(b.decode("utf-8")[0]) if b else 0
                    ).astype("int32"),
                    "fake_width": (n_bytes % 256).astype("int32"),
                    "fake_height": (n_bytes // 256).astype("int32"),
                }
            )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(
        extract,
        schema="doc_id bigint, n_bytes bigint, first_cp int, "
        "fake_width int, fake_height int",
    )


@query(
    "q_multimodal_framesample",
    oracle="""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text))) AS p
        FROM documents
    ), persum AS (
        SELECT doc_id,
               sum(CASE WHEN ((p - 1) // 16) % 4 = 0
                        THEN ascii(substring(text, cast(p AS int), 1))
                   END) AS cs
        FROM pos
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           cast((octet_length(encode(d.text)) + 15) // 16 AS bigint)
               AS n_frames,
           cast(((octet_length(encode(d.text)) + 15) // 16 + 3) // 4
               AS bigint) AS n_sampled,
           cast(coalesce(s.cs, 0) AS bigint) AS checksum
    FROM documents d LEFT JOIN persum s ON d.doc_id = s.doc_id
    """,
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: every 4th 16-byte frame.

    The video-pipeline primitive (decode → sample 1-in-N frames →
    feature-extract) with the codec swapped for deterministic byte
    math: payloads split into 16-byte frames, frames 0,4,8,… are
    sampled, and the checksum sums the sampled frames' bytes (numpy
    over the Arrow buffer — where a real pipeline would run the model
    on sampled frames). Map-only: no shuffle at all; each Arrow batch
    is processed and emitted in place, so throughput scales with
    executor count times I/O, the shape real media extraction needs.
    The oracle replays the same frame arithmetic positionally (fixture
    text is pure ASCII, so code points == bytes — asserted here).
    """
    import numpy as np

    FRAME, STRIDE = 16, 4

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]

            def checksum(b: bytes) -> int:
                if not b:
                    return 0
                arr = np.frombuffer(b, dtype=np.uint8)
                mask = (np.arange(arr.size) // FRAME) % STRIDE == 0
                return int(arr[mask].sum())

            n_bytes = payload.map(len)
            n_frames = (n_bytes + FRAME - 1) // FRAME
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": n_frames.astype("int64"),
                    "n_sampled": ((n_frames + STRIDE - 1) // STRIDE).astype(
                        "int64"
                    ),
                    "checksum": payload.map(checksum).astype("int64"),
                }
            )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(
        sample,
        schema="doc_id bigint, n_frames bigint, n_sampled bigint, "
        "checksum bigint",
    )


@query(
    "q_multimodal_resize",
    bench=False,
    oracle="""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text))) AS p
        FROM documents
    ), kept AS (
        SELECT doc_id,
               count(*) AS resized_bytes,
               sum(ascii(substring(text, cast(p AS int), 1))) AS cs
        FROM pos
        WHERE (p - 1) % 4 = 0
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           cast(octet_length(encode(d.text)) AS bigint) AS orig_bytes,
           cast(coalesce(k.resized_bytes, 0) AS bigint) AS resized_bytes,
           cast(coalesce(k.cs, 0) AS bigint) AS resized_checksum
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample over binary payloads: keep every 4th byte.

    The image-resize slot of the multimodal battery with the codec
    swapped for byte math: a real pipeline decodes, bilinear-resizes,
    and re-encodes; here the payload downsamples by stride-4 byte
    selection (numpy slicing over the Arrow buffer) and reports the
    new size + checksum so the oracle can replay the transform
    positionally. Identical plumbing to a real resize: map-only
    mapInPandas, binary in → binary-derived features out, zero
    shuffles; swap the kernel for PIL/cv2 when codecs exist
    (decode_media() marks that seam).
    """
    import numpy as np

    STRIDE = 4

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]

            def down(b: bytes) -> tuple[int, int]:
                if not b:
                    return 0, 0
                arr = np.frombuffer(b, dtype=np.uint8)[::STRIDE]
                return arr.size, int(arr.sum())

            pairs = payload.map(down)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": payload.map(len).astype("int64"),
                    "resized_bytes": pairs.map(lambda t: t[0]).astype(
                        "int64"
                    ),
                    "resized_checksum": pairs.map(lambda t: t[1]).astype(
                        "int64"
                    ),
                }
            )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(
        resize,
        schema="doc_id bigint, orig_bytes bigint, resized_bytes bigint, "
        "resized_checksum bigint",
    )
