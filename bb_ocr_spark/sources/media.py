"""Multimodal media columns: opaque binary payloads + typed metadata.

The Spark-side plumbing is REAL and tested — schema, Arrow batch shapes,
partition sizing, UDF signatures; the pixel decoding itself is
STUBBED (the package depends on no image library): `decode_image`
raises NotImplementedError unless a PIL-class decoder is importable, and
tests use the deterministic fake codec below, which round-trips a header +
payload through real bytes.

Reference parity: image read/decode/downscale/b64 chain
(enhanced_extractor.py:248,399-411,487-512,801-813 and
ocr_testing/preprocessing/image_preprocessor.py) — re-shaped as Arrow-batch
stages over a media table:

    media(media_ref string, mime string, width int, height int,
          content binary)

At 100 TB the binary payloads dominate: keep them OUT of shuffles (join
metadata first, fetch/decode per partition), size Arrow batches by bytes
not rows, and let the parquet scan prune `content` whenever a stage only
needs metadata.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA_DDL = (
    "media_ref string, mime string, width int, height int, content binary"
)

_MAGIC = b"FAKEIMG1"


def have_real_decoder() -> bool:
    try:
        import PIL  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


# --------------------------------------------------------------------------
# deterministic fake codec (tests / sandbox)
# --------------------------------------------------------------------------


def fake_encode(media_ref: str, width: int, height: int) -> bytes:
    """Deterministic bytes: magic + dims + seed-derived payload whose values
    depend only on media_ref — a stand-in for a JPEG."""
    import numpy as np  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    seed = zlib.crc32(media_ref.encode()) % (2**31)
    rng = np.random.RandomState(seed)
    payload = rng.randint(0, 256, size=width * height, dtype=np.int64).astype("uint8")
    head = _MAGIC + width.to_bytes(4, "big") + height.to_bytes(4, "big")
    return head + payload.tobytes()


def fake_decode(content: bytes):
    """bytes → (width, height, np.uint8 array)."""
    import numpy as np  # noqa: PLC0415

    if content[:8] != _MAGIC:
        raise ValueError("not a FAKEIMG1 payload")
    w = int.from_bytes(content[8:12], "big")
    h = int.from_bytes(content[12:16], "big")
    return w, h, np.frombuffer(content[16:], dtype=np.uint8).reshape(h, w)


def decode_image(content: bytes):
    """Real decoder entry point — stubbed (no PIL/cv2 in this image)."""
    if not have_real_decoder():
        raise NotImplementedError(
            "real image decoding requires PIL/cv2; use the FAKEIMG codec "
            "in this sandbox (sources/media.py fake_decode)"
        )
    from PIL import Image  # noqa: PLC0415
    import io  # noqa: PLC0415

    return Image.open(io.BytesIO(content))


# --------------------------------------------------------------------------
# generation + Arrow-batch stages
# --------------------------------------------------------------------------


def load_binary_dir(spark, path: str, glob: str = "*") -> DataFrame:
    """S3 analog: directory of raw files → (path, modificationTime, length,
    content binary) via Spark's binaryFile source (the cv2.imread/PIL.open
    replacement at scale — bytes stay on executors)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def b64_content_col(content) -> "Column":  # noqa: F821
    """F6: binary → base64 data payload (reference b64 data-URL encode,
    enhanced_extractor.py:801-813)."""
    return F.base64(content)


def generate_media_df(spark, refs_df: DataFrame, max_px: int = 64) -> DataFrame:
    """(media_ref) → full media rows with deterministic fake payloads.
    Distributed via mapInPandas — the binary column is born on executors,
    never on the driver."""
    import pandas as pd  # noqa: PLC0415

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref in pdf["media_ref"]:
                import zlib

                w = 16 + (zlib.crc32((ref + "w").encode()) % max_px)
                h = 16 + (zlib.crc32((ref + "h").encode()) % max_px)
                rows.append((ref, "image/fake", w, h, fake_encode(ref, w, h)))
            yield pd.DataFrame(
                rows, columns=["media_ref", "mime", "width", "height", "content"]
            )

    return refs_df.select("media_ref").mapInPandas(build, schema=MEDIA_SCHEMA_DDL)


FEATURES_SCHEMA_DDL = (
    "media_ref string, width int, height int, mean_val double, std_val double, "
    "edge_energy double, histogram array<int>, error string"
)


def extract_image_features(media: DataFrame, on_error: str = "keep") -> DataFrame:
    """Decode + feature-extract per Arrow batch (vectorized numpy): mean,
    std, gradient energy, 16-bin histogram. The real-codec version swaps
    fake_decode for PIL/cv2 without touching the plan (same contract as the
    reference preprocess chain U1, image_preprocessor.py:147-160).

    Decode failures follow the error-as-column pattern (reference provider
    fault isolation, aggregator.py:46-59 — a bad doc must never kill a task
    at 10^12 rows): on_error='keep' emits the row with null features and the
    error message; 'fail' re-raises (debugging)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                try:
                    w, h, arr = fake_decode(bytes(content))
                except Exception as e:
                    if on_error == "fail":
                        raise
                    rows.append((ref, None, None, None, None, None, None, str(e)))
                    continue
                a = arr.astype("float64")
                gx = np.abs(np.diff(a, axis=1)).mean() if w > 1 else 0.0
                gy = np.abs(np.diff(a, axis=0)).mean() if h > 1 else 0.0
                hist = np.bincount(arr.ravel() >> 4, minlength=16)[:16]
                rows.append(
                    (
                        ref,
                        w,
                        h,
                        round(float(a.mean()), 6),
                        round(float(a.std()), 6),
                        round(float(gx + gy), 6),
                        [int(x) for x in hist],
                        None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "width",
                    "height",
                    "mean_val",
                    "std_val",
                    "edge_energy",
                    "histogram",
                    "error",
                ],
            )

    return media.select("media_ref", "content").mapInPandas(
        run, schema=FEATURES_SCHEMA_DDL
    )


def resize_stub(media: DataFrame, max_side: int) -> DataFrame:
    """Resize stage: metadata math is real (target dims, downscale ratio per
    the reference's 1600/2400 px caps); pixel resampling is the stubbed
    step (needs a real codec)."""
    ratio = F.when(
        F.greatest("width", "height") > max_side,
        F.lit(max_side) / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return media.withColumn("resize_ratio", F.round(ratio, 6)).withColumn(
        "target_width", F.floor(F.col("width") * ratio).cast("int")
    ).withColumn("target_height", F.floor(F.col("height") * ratio).cast("int"))
