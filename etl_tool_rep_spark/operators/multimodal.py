"""Multimodal columns: opaque binary payloads + typed metadata, with
Arrow-batched decode / feature-extract / resize / frame-sample stages.

Design (the part that matters at 100 TB): binary columns travel as
``BinaryType`` with a typed metadata struct; every decode/feature stage
is an Arrow-batched ``mapInPandas`` so each batch crosses the
JVM/Python boundary once — never per row. Partitioning guidance:
repartition by a size-balanced key before decode stages (decode cost
tracks payload bytes, not row count; see SCALE.md).

Decode is REAL for PNG and for the FRMS multi-frame container: a
pure-stdlib spec-conformant PNG codec lives in ``operators/png.py``
(zlib + struct + crc32 — no PIL needed), and the tier-24 exact-oracle
queries certify its encode→decode round trip bit-for-bit against
DuckDB's independent recomputation of the pixel rule. Other formats
(JPEG, mp4, ...) remain gated on optional libraries absent from this
container (PIL / av), with a clear error message.

Reference parity: the reference app (a CSV/Excel ETL UI,
``/root/reference/main.py:69-94``) has no multimodal surface; this
module backs BASELINE.json's multimodal-column mandate.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import png

try:  # gated import — PIL backs non-PNG formats only; absent here
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_FRMS_MAGIC = b"FRMS"

# ---------------------------------------------------------------------------
# Deterministic pixel rule — the shared contract between the Spark
# generators below and the DuckDB oracles in queries/tier24.py. Pure
# int64-safe arithmetic (an LCG over a position hash) so numpy, Spark
# SQL, and DuckDB all reproduce it bit-for-bit:
#   h(doc)    = 8  + doc % 5            (8..12 rows)
#   w(doc)    = 12 + doc % 7            (12..18 cols)
#   s(d,y,x)  = (d*73856093 + y*19349663 + x*83492791) % 2^31
#   v(d,y,x)  = ((s*1103515245 + 12345) % 2^31) >> 23      (0..255)
#   filter(y) = (d + y) % 5             (exercises all 5 PNG filters)
# Max intermediate: s < 2^31 and 1103515245 < 2^31, so s*1103515245
# < 2^62 — inside int64; doc ids at sf1 are ~5e4, so d*73856093 ~
# 4e12 — inside int64. No step overflows in numpy/Spark/DuckDB.
# ---------------------------------------------------------------------------

PIXEL_RULE_SQL = ("(((({d}) * 73856093 + ({y}) * 19349663 + ({x}) * 83492791)"
                  " % 2147483648) * 1103515245 + 12345) % 2147483648")


def pixel_rule_sql(d: str, y: str, x: str) -> str:
    """SQL expression (valid in both Spark SQL and DuckDB) for the
    pixel value v(d, y, x) in 0..255."""
    s = PIXEL_RULE_SQL.format(d=d, y=y, x=x)
    return f"(({s}) >> 23)"


def pixel_grid(d: int, h: int, w: int):
    """v(d, y, x) for y < h, x < w as an int64 numpy array — the
    numpy form of ``pixel_rule_sql``."""
    import numpy as np
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    s = (d * 73856093 + y * 19349663 + x * 83492791) % 2147483648
    return ((s * 1103515245 + 12345) % 2147483648) >> 23


def synth_pixels(doc_id: int) -> tuple[bytes, int, int]:
    """Generate the deterministic pixel buffer for one doc id ->
    (pixels row-major, width, height). numpy-vectorized."""
    h = 8 + doc_id % 5
    w = 12 + doc_id % 7
    return pixel_grid(doc_id, h, w).astype("uint8").tobytes(), w, h


def synth_png(doc_id: int) -> bytes:
    """Encode the deterministic image for ``doc_id`` as a real PNG,
    cycling the scanline filter (doc_id + y) % 5 so every encode
    exercises all five PNG filters."""
    pixels, w, h = synth_pixels(doc_id)
    return png.encode_png(pixels, w, h, 1,
                          filter_choice=lambda y: (doc_id + y) % 5)


def fan_out_ids(df: DataFrame) -> DataFrame:
    """Spread a narrow id frame across the session's cores before a
    CPU-bound synthesis/codec stage (r14, guide §2.5 input parallelism
    / §8 move-small-rows): at local SF every table is ONE parquet
    split, so the whole encode->decode pipeline otherwise runs as a
    single serial task. The exchange moves only the id column (8
    bytes/row); at cluster scale the scan already has many splits and
    this remains one cheap narrow exchange that guarantees codec
    parallelism tracks cores, not file layout."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


PAYLOAD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])

PIXEL_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("pix_min", T.LongType()),
    T.StructField("pix_max", T.LongType()),
    T.StructField("pix_wsum", T.LongType()),
    T.StructField("n_distinct", T.LongType()),
])

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def write_payload_files(df: DataFrame, out_dir: str,
                        id_col: str = "doc_id") -> int:
    """Materialize one real ``.png`` FILE per id under ``out_dir`` —
    executor-side (mapInPandas), never a driver loop, so the write
    scales with partitions exactly like a real ingest fixture. Files
    are named ``img_<id>.png`` and written via rename for atomicity.
    Returns the number of files written.

    This is the setup half of the 100-TB ingest shape: on a cluster
    the files land on shared storage and ``sources.readers.read_binary``
    (``spark.read.format("binaryFile")``) scans them back — the decode
    stages downstream are identical either way."""
    import os

    import pandas as pd

    def w(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            n = 0
            for d in pdf[id_col].astype("int64"):
                p = os.path.join(out_dir, f"img_{int(d):012d}.png")
                tmp = p + ".tmp"
                with open(tmp, "wb") as fh:
                    fh.write(synth_png(int(d)))
                os.replace(tmp, p)
                n += 1
            yield pd.DataFrame({"n": [n]})

    total = (fan_out_ids(df.select(id_col))
             .mapInPandas(w, schema="n long")
             .agg(F.sum("n")).collect()[0][0])
    return int(total or 0)


def synth_png_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas stage 1: deterministic PNG payload per id — real
    zlib-compressed, CRC-framed, filter-cycled PNG bytes. Stands in
    for reading image blobs off object storage (same downstream
    plan)."""
    import pandas as pd

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": [synth_png(int(d)) for d in ids],
            })

    return fan_out_ids(df.select(id_col)).mapInPandas(
        gen, schema=PAYLOAD_SCHEMA)


def decode_pixel_stats(df: DataFrame) -> DataFrame:
    """mapInPandas stage 2: REAL PNG decode (parse chunks, validate
    CRCs, inflate, unfilter) -> integer pixel statistics. All-bigint
    output so the exact oracle hash-matches; ``pix_wsum`` is the
    position-weighted sum mod 1e9+7 — a permutation-sensitive
    checksum, so a decoder that shuffled or mis-unfiltered pixels
    cannot pass."""
    import numpy as np
    import pandas as pd

    def stats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pixels, w, h, ch = png.decode_png(bytes(payload))
                v = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
                pos = np.arange(1, v.size + 1, dtype=np.int64)
                rows.append((int(doc_id), h, w, v.size, int(v.sum()),
                             int(v.min()), int(v.max()),
                             int((pos * v % 1000000007).sum() % 1000000007),
                             int(np.unique(v).size)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              PIXEL_STATS_SCHEMA])

    return df.select("doc_id", "payload").mapInPandas(
        stats, schema=PIXEL_STATS_SCHEMA)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Resize an image payload (binary in -> binary out, suitable for
    a mapInPandas stage). PNG: pure-stdlib decode -> nearest-neighbor
    -> re-encode. Other formats need PIL."""
    payload = bytes(payload)
    if payload[:8] == _PNG_SIG:
        pixels, w, h, ch = png.decode_png(payload)
        out = png.resize_nearest(pixels, w, h, ch, width, height)
        return png.encode_png(out, width, height, ch)
    if not _HAS_PIL:
        raise NotImplementedError(
            "non-PNG image resize requires PIL; not available in this "
            "environment (PNG resizes natively via operators/png.py)")
    import io
    img = Image.open(io.BytesIO(payload))
    buf = io.BytesIO()
    img.resize((width, height)).save(buf, format=img.format or "PNG")
    return buf.getvalue()


def sample_frames(payload: bytes, every_n: int = 2) -> list[bytes]:
    """Sample every ``every_n``-th frame from a multi-frame payload.
    The FRMS container (length-prefixed PNG frames, operators/png.py)
    decodes natively; real video containers (mp4/webm) need a decoder
    (av/ffmpeg) absent from this container."""
    payload = bytes(payload)
    if payload[:4] == _FRMS_MAGIC:
        return png.unpack_frames(payload)[::every_n]
    raise NotImplementedError(
        "video frame sampling for non-FRMS containers requires a "
        "decoder (e.g. av/ffmpeg); not available in this environment")


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads — the
    canonical multimodal slow-path stage. PNG payloads get REAL
    decoded-pixel features (dimensions + pixel moments); non-PNG
    payloads fall back to byte-level statistics so the stage stays
    total over mixed corpora. One Python crossing per Arrow batch."""
    import numpy as np
    import pandas as pd

    def featurize(payload: bytes) -> list[float]:
        payload = bytes(payload)
        if payload[:8] == _PNG_SIG:
            pixels, w, h, _ = png.decode_png(payload)
            v = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
            return [float(w), float(h), float(v.size), float(v.sum()),
                    float(v.min()), float(v.max()),
                    float(v.sum() // max(v.size, 1)),
                    float(np.unique(v).size)]
        # non-image payload: byte statistics (documented fallback)
        b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        if b.size == 0:
            return [0.0] * FEATURE_DIM
        return [0.0, 0.0, float(b.size), float(b.sum()),
                float(b.min()), float(b.max()),
                float(b.sum() // b.size), float(np.unique(b).size)]

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len),
                "features": pdf["payload"].map(featurize),
            })

    return df.select("doc_id", "payload").mapInPandas(
        batches, schema=FEATURES_SCHEMA)
