"""Media-ingest query (mm12): the binaryFile → typed-manifest bronze
build, driver-checked end-to-end with the REAL codecs.

A deterministic fixture directory of 24 media files (PNG / animated
GIF / WAV PCM / corrupt, one per doc_id < 24, every parameter an
integer function of the id) is built once per code version with the
package's own encoders, then ingested through the production path:
``binaryFile`` scan → magic-byte routing → real decode
(functions/png.py, functions/gif.py, stdlib ``wave``) inside one
Arrow-batched ``mapInPandas``. Because every dimension / frame count /
sample rate is an analytic function of the id, the DuckDB oracle
recomputes the expected manifest from the ``documents`` table — so the
whole encode→land→list→scan→route→decode path is value-checked, not
rows-only.

Reference scope note: the reference ingests NTRIP byte streams only
(src/ntripclient.py); media ingest is a north-star extension
(SURVEY.md §2 multimodal family).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntripmonitor_spark.plans.registry import register

N_FILES = 24


def _payload(i: int) -> bytes:
    """Deterministic media payload for doc_id ``i`` (class = i % 8)."""
    from ntripmonitor_spark.functions import gif, png

    m = i % 8
    if m == 7:
        # PNG magic + garbage: routed to image, fails decode → corrupt.
        return b"\x89PNG\r\n\x1a\n" + bytes(4)
    if m in (0, 3, 6):
        w, h = 4 + i % 13, 3 + i % 7
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(yy * 7 + xx * 13 + i * (c + 1)) % 256 for c in range(3)], axis=-1
        ).astype(np.uint8)
        return png.encode_png(img)
    if m in (1, 4):
        w, h, n = 3 + i % 5, 2 + i % 4, 1 + i % 3
        ff, yy, xx = np.mgrid[0:n, 0:h, 0:w]
        frames = ((ff + yy * 2 + xx * 3 + i) % 4).astype(np.uint8)
        palette = np.array(
            [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
        )
        return gif.encode_gif(frames, palette)
    # m in (2, 5): WAV PCM, 1 channel, 16-bit.
    import io
    import wave

    n_samples, rate = 50 + i * 7, 8000 + (i % 3) * 4000
    pcm = (np.arange(n_samples) * (i + 3) % 4096 - 2048).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(pcm.tobytes())
    return buf.getvalue()


def _fixture_dir() -> str:
    """Build the 24-file media drop directory once per code version
    (same scratch-then-rename discipline as tables.silver_archive; the
    fixture depends only on the encoders, not on sf_dir)."""
    import getpass
    import hashlib
    import tempfile

    from ntripmonitor_spark.functions import gif, png

    salt = "|".join(
        str(os.path.getmtime(m.__file__)) for m in (gif, png)
    ) + f"|{__file__}|{os.path.getmtime(__file__)}"
    key = hashlib.md5(salt.encode()).hexdigest()[:12]
    try:
        user = getpass.getuser()
    except Exception:
        user = str(os.getuid()) if hasattr(os, "getuid") else "u"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_{user}")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"media_{key}")
    if not os.path.isdir(path):
        scratch = tempfile.mkdtemp(dir=base, prefix=f"media_{key}.tmp.")
        for i in range(N_FILES):
            with open(os.path.join(scratch, f"{i:04d}.bin"), "wb") as f:
                f.write(_payload(i))
        try:
            os.rename(scratch, path)
        except OSError:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
    return path


@register(
    "mm12_media_manifest",
    tags=("multimodal", "source"),
    oracle=f"""
SELECT CAST(doc_id AS INT) AS doc_id,
       CASE WHEN doc_id % 8 = 7 THEN 'corrupt'
            WHEN doc_id % 8 IN (0, 3, 6) THEN 'image'
            WHEN doc_id % 8 IN (1, 4) THEN 'video'
            ELSE 'audio' END AS modality,
       CASE WHEN doc_id % 8 IN (0, 3, 6) THEN CAST(4 + doc_id % 13 AS INT)
            WHEN doc_id % 8 IN (1, 4) THEN CAST(3 + doc_id % 5 AS INT) END AS width,
       CASE WHEN doc_id % 8 IN (0, 3, 6) THEN CAST(3 + doc_id % 7 AS INT)
            WHEN doc_id % 8 IN (1, 4) THEN CAST(2 + doc_id % 4 AS INT) END AS height,
       CASE WHEN doc_id % 8 IN (0, 3, 6) THEN 1
            WHEN doc_id % 8 IN (1, 4) THEN CAST(1 + doc_id % 3 AS INT) END AS n_frames,
       CASE WHEN doc_id % 8 IN (2, 5) THEN CAST(50 + doc_id * 7 AS INT) END AS n_samples,
       CASE WHEN doc_id % 8 IN (2, 5) THEN CAST(8000 + (doc_id % 3) * 4000 AS INT) END AS sample_rate
FROM documents
WHERE doc_id < {N_FILES}
""",
)
def mm12_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media bronze build through the driver: binaryFile scan over
    a deterministic 24-file drop dir (PNG / animated GIF / WAV / one
    corrupt class), magic-byte routing + REAL codec metadata in one
    Arrow-batched mapInPandas (sources/media.py), doc_id recovered from
    the file name. Every manifest value is an integer function of the
    id, so the oracle recomputes the expected output analytically from
    ``documents`` — value-checking the whole land→scan→route→decode
    path. No shuffle: listing-parallel scan + per-row map only."""
    from ntripmonitor_spark.sources import media

    manifest = media.ingest_media(spark, _fixture_dir())
    return manifest.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("int")
        .alias("doc_id"),
        "modality", "width", "height", "n_frames", "n_samples", "sample_rate",
    )


# ---------------------------------------------------------------------------
# mm14 — scene-change detection over real animated GIFs.
# ---------------------------------------------------------------------------

N_SCENE = 40


def _scene_payload(i: int) -> bytes:
    """Deterministic scene-cut GIF for doc_id ``i``: constant-color
    frames that toggle black<->white exactly at the planted cut
    positions (frame f >= 1 is a cut iff (f*7 + i) % 3 == 0), so every
    consecutive-frame mean RGB delta is analytically 255 at a cut and
    0 inside a segment. i % 10 == 9 is a corrupt class (GIF magic +
    garbage) exercising the kernel's per-row quarantine."""
    from ntripmonitor_spark.functions import gif

    if i % 10 == 9:
        return b"GIF89a" + bytes(7)
    w, h, n = 4 + i % 5, 3 + i % 4, 6 + i % 5
    color, idx = 0, []
    for f in range(n):
        if f >= 1 and (f * 7 + i) % 3 == 0:
            color ^= 1
        idx.append(np.full((h, w), color, dtype=np.uint8))
    palette = np.array(
        [[0, 0, 0], [255, 255, 255], [0, 0, 0], [0, 0, 0]], dtype=np.uint8
    )
    return gif.encode_gif(np.stack(idx), palette)


def _scene_fixture_dir() -> str:
    """40-GIF scene fixture dir, built once per codec/plan version
    (same scratch-then-rename discipline as _fixture_dir)."""
    import getpass
    import hashlib
    import tempfile

    from ntripmonitor_spark.functions import gif

    salt = f"{os.path.getmtime(gif.__file__)}|{__file__}|{os.path.getmtime(__file__)}|scene"
    key = hashlib.md5(salt.encode()).hexdigest()[:12]
    try:
        user = getpass.getuser()
    except Exception:
        user = str(os.getuid()) if hasattr(os, "getuid") else "u"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_{user}")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"scene_{key}")
    if not os.path.isdir(path):
        scratch = tempfile.mkdtemp(dir=base, prefix=f"scene_{key}.tmp.")
        for i in range(N_SCENE):
            with open(os.path.join(scratch, f"{i:04d}.gif"), "wb") as f:
                f.write(_scene_payload(i))
        try:
            os.rename(scratch, path)
        except OSError:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
    return path


@register(
    "mm14_scene_change",
    tags=("multimodal",),
    oracle=f"""
WITH valid AS (
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(CASE WHEN (f * 7 + doc_id) % 3 = 0 THEN 255.0 ELSE 0.0 END AS DOUBLE) AS delta
    FROM documents, LATERAL unnest(range(1, 6 + doc_id % 5)) t(f)
    WHERE doc_id < {N_SCENE} AND doc_id % 10 <> 9
)
SELECT doc_id, frame_idx, delta, delta > 64 AS is_cut FROM valid
UNION ALL
SELECT doc_id, NULL, NULL, NULL FROM documents
WHERE doc_id < {N_SCENE} AND doc_id % 10 = 9
""",
)
def mm14_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection through the driver with REAL decode: a
    40-GIF fixture dir (constant-color frames toggling exactly at the
    planted cut positions, plus a corrupt class) read via binaryFile,
    per-transition mean RGB deltas computed by the LZW codec kernel,
    cuts = delta > 64. Every delta is analytically 0 or 255 as a
    function of (doc_id, frame), so the oracle recomputes the full
    per-transition table from ``documents`` — value-checking
    land→scan→decode→detect. Corrupt payloads surface as quarantined
    null rows, not stage failures. No shuffle: listing-parallel scan +
    per-row map only (the threshold is a pure column expression)."""
    from ntripmonitor_spark.operators.multimodal import gif_scene_deltas
    from ntripmonitor_spark.sources import media

    raw = media.read_media(spark, _scene_fixture_dir())
    payloads = raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.gif$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    out = gif_scene_deltas(payloads)
    return out.select(
        "doc_id", "frame_idx", "delta", (F.col("delta") > 64).alias("is_cut")
    )
