"""Multimodal columns: blobs as binary columns with typed metadata.

EdgeLake stores images/video/files in blob stores keyed by content hash
and references them from rows (edge_lake/dbms/bucket_dbms.py:110
store_file, :220 retrieve_files; mongodb_dbms.py:69; base64 extraction
in map_json_to_insert.py:240 apply_blob_storage). Spark mapping: a
blobs table with a BinaryType ``content`` column + metadata, built from
files by ``file_to_blob_row``; per-blob compute (``extract_features``,
``sample_frames``) runs as Arrow-batched ``mapInPandas`` so bytes
stream through Python in batches, never row-at-a-time. They back the
multimodal_features and multimodal_frames gates.

Decode: real where the media library is importable (PIL for images —
import-guarded, see ``decode_for``), a deterministic double otherwise
(the image and video libraries are optional). The Spark-side plumbing
(schema, partitioning, UDF signature, batch shape) is identical either
way, so pipelines exercise end-to-end in both environments;
``decode_stub="auto"`` picks per media type at runtime.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

BLOB_SCHEMA = T.StructType(
    [
        T.StructField("blob_hash", T.StringType(), False),  # content key
        T.StructField("media_type", T.StringType(), True),  # image/audio/video
        T.StructField("source_name", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = (
    "blob_hash string, media_type string, n_bytes bigint, feature array<float>, width int, height int"
)


_MEDIA_EXT = {
    "png": "image", "jpg": "image", "jpeg": "image", "gif": "image", "bmp": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio",
    "mp4": "video", "avi": "video", "mkv": "video",
}


def media_type_from_name(name: str) -> str:
    ext = name.rsplit(".", 1)[-1].lower() if "." in name else ""
    return _MEDIA_EXT.get(ext, "file")


def file_to_blob_row(path: str, blob_hash: str | None = None) -> tuple:
    """Read a local file into a blobs-table row. Hash defaults to md5 of
    the content (the reference's keying, bucket_dbms.py:185 /
    utils_data.get_string_hash('md5', ...))."""
    import os

    with open(path, "rb") as f:
        content = f.read()
    if not blob_hash:
        blob_hash = hashlib.md5(content).hexdigest()
    name = os.path.basename(path)
    return (blob_hash, media_type_from_name(name), name, content, len(content))


try:  # optional dependency: present in many Spark images, not this container
    from PIL import Image as _PILImage
except ImportError:
    _PILImage = None


def _decode_real(content: bytes, media_type: str):
    """Real decode path, used when the needed library is importable.

    Images decode via PIL when available: feature = 8-bin grayscale
    histogram (normalized), width/height from the decoded image. Audio/
    video (and images without PIL) raise — wire torchaudio/decord here
    in a full deployment. ``decode_for(media_type)`` picks this path
    automatically when it can actually run."""
    if media_type == "image" and _PILImage is not None:
        import io

        img = _PILImage.open(io.BytesIO(content))
        img.load()
        gray = img.convert("L")
        hist = gray.histogram()  # 256 bins
        binned = [sum(hist[i * 32 : (i + 1) * 32]) for i in range(8)]
        total = float(sum(binned)) or 1.0
        feature = [b / total for b in binned]
        return feature, img.width, img.height
    raise NotImplementedError(
        f"decode of media_type={media_type!r} requires libraries not "
        "present (PIL for images; torchaudio/decord for audio/video)"
    )


def decode_for(media_type: str):
    """The decode callable that can actually run here: real when the
    library for ``media_type`` is importable, else the deterministic
    double — so the same pipeline is deployable with or without media
    libs installed."""
    if media_type == "image" and _PILImage is not None:
        return _decode_real
    return _decode_fake


def _decode_fake(content: bytes, media_type: str):
    """Deterministic stand-in: 8 floats + dims derived from the bytes so
    tests can assert stable end-to-end behavior."""
    h = hashlib.sha256(content).digest()
    feature = [b / 255.0 for b in h[:8]]
    width = 1 + h[8] % 64
    height = 1 + h[9] % 64
    return feature, width, height


def extract_features(df: DataFrame, decode_stub: bool | str = True) -> DataFrame:
    """Arrow-batched feature extraction over the blobs table.

    mapInPandas: each task pulls record batches, decodes locally, emits
    fixed-schema rows — the shape that scales (per-partition Python, no
    driver involvement, no per-row serde).

    decode_stub: True → deterministic double, False → real decode
    (raises where the media library is absent), "auto" → real where the
    library is importable, double otherwise.
    """
    if decode_stub == "auto":
        decode = lambda content, mt: decode_for(mt)(content, mt)  # noqa: E731
    else:
        decode = _decode_fake if decode_stub else _decode_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, widths, heights = [], [], []
            for content, mt in zip(pdf["content"], pdf["media_type"]):
                feature, w, h = decode(bytes(content), mt)
                feats.append(feature)
                widths.append(w)
                heights.append(h)
            yield pd.DataFrame(
                {
                    "blob_hash": pdf["blob_hash"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                    "width": widths,
                    "height": heights,
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


# ------------------------------------------------------------- frames
#
# Frame sampling (video → image rows, a 1→N expansion INSIDE mapInPandas
# — the Arrow-batched flatMap shape). The deterministic double derives
# everything from the blob-hash STRING so a SQL oracle can reproduce it
# byte-for-byte.

FRAME_SCHEMA = (
    "blob_hash string, frame_idx int, frame_hash string, "
    "frame_width int, frame_height int, frame bytes".replace("bytes", "binary")
)

def sample_frames(df: DataFrame, n_frames: int = 3) -> DataFrame:
    """Uniform frame sampling: each (video) blob expands to ``n_frames``
    rows inside the SAME mapInPandas pass — no explode-then-reshuffle,
    the Arrow batch simply emits more rows than it consumed.

    Real video decode needs decord/pyav (absent here) — the
    deterministic double derives each frame from sha256(blob_hash +
    '#' + idx) so the expansion, ordering, and per-frame metadata are
    oracle-reproducible; swap ``_frame_fake`` for a decord reader in a
    full deployment (reference stores video blobs the same way it
    stores images: bucket_dbms.py store_file)."""

    def _frame_fake(bh: str, idx: int) -> tuple[str, int, int, bytes]:
        d = hashlib.sha256(f"{bh}#{idx}".encode())
        hx = d.hexdigest()
        raw = d.digest()
        return hx, 1 + raw[0] % 64, 1 + raw[1] % 64, raw

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("blob_hash", "frame_idx", "frame_hash",
                                    "frame_width", "frame_height", "frame")}
            for bh in pdf["blob_hash"]:
                for i in range(n_frames):
                    hx, w, h, raw = _frame_fake(bh, i)
                    rows["blob_hash"].append(bh)
                    rows["frame_idx"].append(i)
                    rows["frame_hash"].append(hx)
                    rows["frame_width"].append(w)
                    rows["frame_height"].append(h)
                    rows["frame"].append(raw)
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=FRAME_SCHEMA)
