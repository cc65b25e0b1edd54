"""Multimodal columns: image/audio/video as opaque binary + typed meta.

The pattern for media at 100 TB: the payload is an opaque `binary`
column (or a pointer into an object store) riding next to typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas UDFs over `mapInPandas`, so the payload bytes
never round-trip through the driver and never explode into JVM objects
— each task streams record batches through one Python worker.

No media codec (PIL / ffmpeg / librosa) is installed, so the decode
step is `fake_codec`: a DETERMINISTIC stand-in that derives (format,
width, height, n_frames) from md5(payload). Because md5 of the same
bytes is the same everywhere, the whole pipeline — schema,
partitioning, UDF signature, Arrow batch shape — is real and
oracle-checkable end-to-end; only the pixel math is fake. A real
decoder replaces `fake_codec` and returns the same fields.

Both the per-row metadata decode (1 row → 1 row) and the frame
sampler (1 row → N rows, the UDTF shape) are exposed.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_FORMATS = ["jpeg", "png", "webp", "gif"]

META_SCHEMA = (
    "doc_id long, format string, width int, height int, n_frames int, "
    "n_bytes long"
)

FRAME_SCHEMA = "doc_id long, frame_idx int, frame_hash string"


def fake_codec(payload: bytes) -> dict:
    """Deterministic fake decode: every field is a pure function of
    md5(payload) — reproducible across engines and processes."""
    h = hashlib.md5(payload).hexdigest()
    return {
        "format": MEDIA_FORMATS[int(h[0], 16) % 4],
        "width": 64 + int(h[1:3], 16),
        "height": 64 + int(h[3:5], 16),
        "n_frames": 1 + int(h[5], 16),
        "n_bytes": len(payload),
    }


def decode_meta(media: DataFrame) -> DataFrame:
    """1 row → 1 row metadata decode as Arrow-batched mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [fake_codec(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[["doc_id", "format", "width", "height", "n_frames", "n_bytes"]]

    return media.select("doc_id", "payload").mapInPandas(run, META_SCHEMA)


def sample_frames(media: DataFrame, every: int = 4) -> DataFrame:
    """1 row → N rows frame sampling (the UDTF shape): emit every
    `every`-th frame index with a deterministic frame fingerprint.
    A real pipeline would emit decoded frame tensors/bytes here; the
    batch mechanics are identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                meta = fake_codec(payload)
                h = hashlib.md5(payload).hexdigest()
                for fi in range(0, meta["n_frames"], every):
                    ids.append(did)
                    idxs.append(fi)
                    hashes.append(hashlib.md5(f"{h}|{fi}".encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_hash": hashes}
            )

    return media.select("doc_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Test harness: treat each document's utf-8 bytes as an opaque
    media payload (the testdata ships no real media; the plumbing
    doesn't care what the bytes are)."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


# ---- DuckDB oracles (same md5 derivation, pure SQL) ----------------------

_HEXD = "strpos('0123456789abcdef', {c}) - 1"


def _hex1(expr: str) -> str:
    return _HEXD.format(c=expr)


def oracle_decode_meta_sql() -> str:
    d0 = _hex1("substr(h, 1, 1)")
    d12 = f"({_hex1('substr(h, 2, 1)')}) * 16 + ({_hex1('substr(h, 3, 1)')})"
    d34 = f"({_hex1('substr(h, 4, 1)')}) * 16 + ({_hex1('substr(h, 5, 1)')})"
    d5 = _hex1("substr(h, 6, 1)")
    return f"""
    SELECT doc_id,
           ['jpeg','png','webp','gif'][(({d0}) % 4) + 1] AS format,
           CAST(64 + ({d12}) AS INT) AS width,
           CAST(64 + ({d34}) AS INT) AS height,
           CAST(1 + ({d5}) AS INT) AS n_frames,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, text, md5(text) AS h FROM documents)
    """


def oracle_sample_frames_sql(every: int = 4) -> str:
    d5 = _hex1("substr(h, 6, 1)")
    return f"""
    WITH m AS (
      SELECT doc_id, md5(text) AS h, 1 + ({d5}) AS n_frames
      FROM documents)
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           md5(h || '|' || fi) AS frame_hash
    FROM m, UNNEST(generate_series(0, n_frames - 1, {every})) AS u(fi)
    """


RESIZE_SCHEMA = (
    "doc_id long, format string, width int, height int, "
    "out_width int, out_height int, out_hash string"
)


def resize_media(media: DataFrame, box: int = 224) -> DataFrame:
    """1 row → 1 row resize transform (the feature-extract/resize stage
    of a multimodal ingest): fit the decoded frame into a `box`×`box`
    square preserving aspect ratio. Pixel math is the deterministic
    fake (a real resize replaces `fake_codec` on a real cluster); the
    geometry is INTEGER arithmetic — (dim*box) // max(w,h) — so every
    engine derives identical shapes, and the output payload is
    fingerprinted, not materialized (at 100 TB the resized bytes land
    next to the originals in the object store; here the hash stands in
    for them).
    """
    import hashlib as _h  # noqa: PLC0415

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                m = fake_codec(payload)
                w, h = m["width"], m["height"]
                longest = max(w, h)
                ow = max(1, (w * box) // longest)
                oh = max(1, (h * box) // longest)
                ph = _h.md5(payload).hexdigest()
                rows.append({
                    "doc_id": did, "format": m["format"],
                    "width": w, "height": h,
                    "out_width": ow, "out_height": oh,
                    "out_hash": _h.md5(f"{ph}|{ow}x{oh}".encode()).hexdigest(),
                })
            yield pd.DataFrame(rows, columns=[
                "doc_id", "format", "width", "height",
                "out_width", "out_height", "out_hash",
            ])

    return media.select("doc_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


def oracle_resize_media_sql(box: int = 224) -> str:
    d0 = _hex1("substr(h, 1, 1)")
    d12 = f"({_hex1('substr(h, 2, 1)')}) * 16 + ({_hex1('substr(h, 3, 1)')})"
    d34 = f"({_hex1('substr(h, 4, 1)')}) * 16 + ({_hex1('substr(h, 5, 1)')})"
    return f"""
    WITH m AS (
      SELECT doc_id,
             ['jpeg','png','webp','gif'][(({d0}) % 4) + 1] AS format,
             64 + ({d12}) AS w, 64 + ({d34}) AS h, mh
      FROM (SELECT doc_id, md5(text) AS mh, md5(text) AS h FROM documents)),
    g AS (
      SELECT doc_id, format, w, h, mh,
             GREATEST((w * {box}) // GREATEST(w, h), 1) AS ow,
             GREATEST((h * {box}) // GREATEST(w, h), 1) AS oh
      FROM m)
    SELECT doc_id, format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(ow AS INT) AS out_width, CAST(oh AS INT) AS out_height,
           md5(mh || '|' || ow || 'x' || oh) AS out_hash
    FROM g
    """


def make_sentence_udtf():
    """A real Python UDTF (Spark 4 `@udtf` API): 1 document row → N
    (sent_idx, sentence, n_chars) rows, usable from SQL via
    `LATERAL split_sentences(text)`.

    The engine's 1→N operators are deliberately native explodes
    (sample_frames, the shingle generators) because arrays-in-JVM beat
    per-row Python; this UDTF exists for the cases where the row fanout
    is genuinely Python-logic-bound (a real sentence segmenter, a
    parser) — it demonstrates the registration surface and the exact
    per-row contract (an iterator of tuples per input row), with the
    same segmentation mirrored in tests against a pure-Python oracle.
    Returned (not module-level) so importing this module stays free of
    Spark-session side effects.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string, n_chars int")
    class SplitSentences:
        def eval(self, text: str):  # noqa: D401 - udtf contract
            if text is None:
                return
            import re as _re

            parts = [
                p.strip()
                for p in _re.split(r"(?<=[.!?])\s+", text)
                if p.strip()
            ]
            for i, p in enumerate(parts):
                yield i, p, len(p)

    return SplitSentences
