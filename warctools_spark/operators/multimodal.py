"""Multimodal columns: images as opaque binary + typed metadata, with
decode and feature extraction as Arrow-batched mapInPandas passes,
and payload MIME sniffing by magic bytes.

The Spark-side plumbing (schemas, batch shapes, UDF signatures) is
real and tested; the codec step sits behind `register_codec` because
the container ships no image libraries. A deterministic fake codec
(the "IMG1" container, below) exercises the full path end-to-end;
plugging Pillow in production means registering a real codec,
nothing else changes.

Fake container format (deterministic, self-describing):
  IMG1 | width:u16 | height:u16 | channels:u8 | payload bytes
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_codecs: dict = {}


def register_codec(kind: str, fn) -> None:
    """fn(blob: bytes) -> dict of decoded fields; production registers
    real decoders here (Pillow, soundfile, pyav)."""
    _codecs[kind] = fn


def _decode_img1(blob: bytes) -> dict:
    """Deterministic fake image codec."""
    if blob[:4] != b"IMG1" or len(blob) < 9:
        raise ValueError("not an IMG1 blob")
    w, h = struct.unpack(">HH", blob[4:8])
    c = blob[8]
    return {"width": w, "height": h, "channels": c, "payload": blob[9:]}


try:  # soft import: environments WITH Pillow get the real path
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - container has no Pillow
    _PILImage = None


def _decode_real_image(blob: bytes) -> dict:
    """Pillow-backed PNG/JPEG decode when Pillow is importable; the
    documented NotImplementedError seam otherwise (this container
    ships no image libs — SURVEY §2 multimodal stub contract)."""
    if _PILImage is None:
        raise NotImplementedError(
            "real image codecs (PNG/JPEG) are not available in this "
            "container; install Pillow or register_codec('image', fn) "
            "with your own decoder in production"
        )
    import io

    img = _PILImage.open(io.BytesIO(blob))
    img.load()
    channels = len(img.getbands())
    return {
        "width": int(img.width),
        "height": int(img.height),
        "channels": channels,
        "payload": img.tobytes(),
    }


register_codec("img1", _decode_img1)
register_codec("image", _decode_real_image)


def encode_img1(width: int, height: int, channels: int, payload: bytes) -> bytes:
    return b"IMG1" + struct.pack(">HH", width, height) + bytes([channels]) + payload


def synthesize_media(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from the embeddings parquet:
    each vector becomes a fake IMG1 blob whose pixels are the
    quantized embedding — no external data, fully reproducible."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def gen(batches):
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "blob": [], "meta": []}
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                # float64 throughout: the quantization is then exact
                # IEEE double math a SQL oracle can replicate bit-for-bit
                arr = np.asarray(vec, dtype=np.float64)
                q = ((arr - arr.min()) / (np.ptp(arr) + 1e-9) * 255).astype(np.uint8)
                side = int(len(q) ** 0.5)
                blob = encode_img1(side, side, 1, q[: side * side].tobytes())
                rows["media_id"].append(int(vid))
                rows["kind"].append("img1")
                rows["blob"].append(blob)
                rows["meta"].append(
                    {"mime": "image/x-img1", "bytes": len(blob)}
                )
            yield pd.DataFrame(rows)

    return emb.mapInPandas(
        gen,
        "media_id long, kind string, blob binary, "
        "meta struct<mime:string, bytes:long>",
    )


def image_features(media: DataFrame) -> DataFrame:
    """Feature extraction: mean/std/histogram over decoded pixels via
    mapInPandas (batch shape: one row in -> one row out, feature
    array column)."""

    def gen(batches):
        for pdf in batches:
            feats, ids = [], []
            for mid, k, b in zip(pdf["media_id"], pdf["kind"], pdf["blob"]):
                try:
                    d = _codecs[k](bytes(b))
                    px = np.frombuffer(d["payload"], dtype=np.uint8).astype(
                        np.float64
                    )
                    hist, _ = np.histogram(px, bins=8, range=(0, 256))
                    f = [float(px.mean()), float(px.std())] + [
                        float(x) for x in hist / max(len(px), 1)
                    ]
                except Exception:
                    f = None
                ids.append(int(mid))
                feats.append(f)
            yield pd.DataFrame({"media_id": ids, "features": feats})

    return media.mapInPandas(gen, "media_id long, features array<double>")


# magic-byte table for payload MIME sniffing (public file signatures)
_MAGIC = [
    ("image/png", b"\x89PNG\r\n\x1a\n"),
    ("image/jpeg", b"\xff\xd8\xff"),
    ("image/gif", b"GIF8"),
    ("application/pdf", b"%PDF"),
    ("application/gzip", b"\x1f\x8b"),
    ("image/x-img1", b"IMG1"),
    ("audio/x-aud1", b"AUD1"),
]


def sniff_mime(blob_col) -> "F.Column":
    """Content sniffing by magic bytes — the trust-the-bytes fallback
    when HTTP Content-Type lies (it does, at web scale). Pure JVM:
    one startswith chain over the binary column; 'application/
    octet-stream' when nothing matches."""
    from pyspark.sql import functions as F

    col = F.col(blob_col) if isinstance(blob_col, str) else blob_col
    out = F.lit("application/octet-stream")
    for mime, magic in reversed(_MAGIC):
        hexs = magic.hex()
        out = F.when(
            F.startswith(F.hex(col), F.lit(hexs.upper())), F.lit(mime)
        ).otherwise(out)
    return out
