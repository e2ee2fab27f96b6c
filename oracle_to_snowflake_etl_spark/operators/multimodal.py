"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §7.5 / BASELINE.json "multimodal columns").

Model: media rows are (media_id, kind, payload: binary, meta: struct).
Decode / feature-extract run as **Arrow-batched mapInPandas** — the
correct Spark shape for per-blob Python work: executors stream
RecordBatches into pandas, Python sees columnar zero-copy buffers, and
the operator parallelizes per partition with no shuffle.

Image decode is REAL for PNG via a pure-stdlib codec (zlib + struct;
``png_decode``/``png_encode`` below) — no imaging library needed, and
the mm_image_png_roundtrip oracle value-checks the decoded
width/height/mean end-to-end. Other formats (JPEG etc.) stay gated
behind a PIL import-try; audio/video decode remains out of scope. A
DETERMINISTIC FAKE path (byte-level numpy stats, md5 frame ids)
covers non-image payloads and is value-checked against DuckDB where
the payload derives from ASCII text (byte == char there).

Scale notes:
  - mapInPandas keeps blobs inside Arrow buffers end-to-end; tune
    spark.sql.execution.arrow.maxRecordsPerBatch for big payloads so a
    batch fits executor memory (default 10k rows is sized for ~KB blobs;
    at 100 TB of images you'd drop it to ~64-256).
  - All feature outputs that feed differential checks are integer sums
    (byte_sum, byte_sqsum) — order-independent and bit-exact, no float
    accumulation ambiguity.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: bytes per sampled "frame" and sampling stride (every Nth frame)
FRAME_SIZE = 32
FRAME_STEP = 3

# NOTE (r16, measured and REJECTED): a leaf-size-gated round-robin
# fan-out of every decode map-pass input (the r15 rescore-fan-out
# reasoning applied to the Arrow decode passes, motivated by the mm
# family's single-row-group scans running each mapInPandas as ONE
# task) was A/B'd at sf0.1 and REVERTED: the added exchange per decode
# site costs one AQE stage job each at the ~0.1-0.25 s scheduling
# floor, which outweighs the ~0.1-0.3 s of single-task Python decode
# it parallelizes (interleaved medians, controls flat:
# mm_ingest_incremental 4.97 s without vs 7.00 s with, mm_ingest_
# pipeline 4.97 vs 7.26, mm_byte_stats 0.32 vs 0.49). At 100 TB the
# scans split naturally, so the fan-out would be a no-op there and a
# pure regression here. Details in OPTIMIZATION_r16.md.

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]), True),
])

BYTE_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("byte_sum", T.LongType(), True),
    T.StructField("byte_sqsum", T.LongType(), True),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_no", T.LongType(), False),
    T.StructField("frame_bytes", T.LongType(), False),
    T.StructField("frame_md5", T.StringType(), False),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_px", T.DoubleType(), True),
])


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents`` table into the media model:
    payload = UTF-8 bytes of the text, kind derived from the source id
    (src{N}: N%3 -> image/audio/video). Real pipelines would read blobs
    from object storage with `spark.read.format("binaryFile")` — the
    downstream operators only see (id, kind, payload, meta) either way."""
    kind = (F.substring("source", 4, 10).cast("int") % 3)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(kind == 0, "image").when(kind == 1, "audio")
         .otherwise("video").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.col("lang"), F.col("source"), F.col("n_chars"),
        ).alias("meta"),
    )


def byte_stats(media: DataFrame) -> DataFrame:
    """Per-payload byte statistics via Arrow-batched mapInPandas:
    (media_id, n_bytes, byte_sum, byte_sqsum). Integer outputs — exact
    and order-independent, so the differential harness can value-check
    the whole Python path."""
    import numpy as np
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None))
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                rows.append((mid, len(arr), int(arr.sum()),
                             int((arr * arr).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_bytes", "byte_sum", "byte_sqsum"])

    return media.select("media_id", "payload") \
                .mapInPandas(stats, schema=BYTE_STATS_SCHEMA)


def frame_sample(media: DataFrame, frame_size: int = FRAME_SIZE,
                 step: int = FRAME_STEP) -> DataFrame:
    """Sample every ``step``-th fixed-size byte chunk ("frame") of each
    payload: (media_id, frame_no, frame_bytes, frame_md5). The video
    frame-sampling shape — chunking + per-chunk digest — over Arrow
    batches; md5 gives a compact frame identity both engines can check."""
    import hashlib

    import pandas as pd

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                n_frames = len(payload) // frame_size
                for fno in range(0, n_frames, step):
                    chunk = payload[fno * frame_size:(fno + 1) * frame_size]
                    rows.append((mid, fno, len(chunk),
                                 hashlib.md5(chunk).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_no", "frame_bytes", "frame_md5"])

    return media.select("media_id", "payload") \
                .mapInPandas(frames, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Pure-stdlib PNG codec (zlib + struct + zlib.crc32) — makes the "real"
# image-decode branch capability-real in a container with no imaging
# libraries. Scope: 8-bit greyscale (color type 0) and RGB (color type
# 2), non-interlaced — the fixtures this repo generates; anything else
# raises ValueError and image_features falls through to its gates.
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_encode(img, filter_type: int = 0) -> bytes:
    """Minimal PNG writer for fixtures: 8-bit, greyscale (h x w array)
    or RGB (h x w x 3), non-interlaced, one IDAT, every scanline
    filtered with ``filter_type`` (0..4 — non-zero types exist so the
    decoder's unfilter paths are testable against a known image)."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        h, w, ch, ctype = a.shape[0], a.shape[1], 1, 0
        flat = a
    elif a.ndim == 3 and a.shape[2] == 3:
        h, w, ch, ctype = a.shape[0], a.shape[1], 3, 2
        flat = a.reshape(h, w * 3)
    else:
        raise ValueError("expected h x w (grey) or h x w x 3 (RGB)")
    # PNG filters are functions of the RAW (unfiltered) neighbor bytes,
    # so ENCODING vectorizes fully — no sequential dependency (unlike
    # decoding filters 1/3/4, which need reconstructed bytes). This is
    # the hot path: the mm_image_png_roundtrip driver query encodes
    # every corpus byte through here.
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad filter {filter_type}")
    raw = bytearray()
    lines = flat.astype(np.int64)
    prev_rows = np.vstack([np.zeros((1, w * ch), dtype=np.int64),
                           lines[:-1]])
    left = np.zeros_like(lines)
    left[:, ch:] = lines[:, :-ch]
    upleft = np.zeros_like(lines)
    upleft[:, ch:] = prev_rows[:, :-ch]
    if filter_type == 0:
        out = lines
    elif filter_type == 1:
        out = (lines - left) % 256
    elif filter_type == 2:
        out = (lines - prev_rows) % 256
    elif filter_type == 3:
        out = (lines - (left + prev_rows) // 2) % 256
    else:  # Paeth, elementwise
        p = left + prev_rows - upleft
        pa, pb, pc = (np.abs(p - left), np.abs(p - prev_rows),
                      np.abs(p - upleft))
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, prev_rows, upleft))
        out = (lines - pred) % 256
    out8 = out.astype(np.uint8)
    for y in range(h):
        raw.append(filter_type)
        raw.extend(out8[y].tobytes())

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def png_decode(payload: bytes):
    """Minimal PNG reader (stdlib only): returns (width, height,
    ndarray) — h x w uint8 for greyscale, h x w x 3 for RGB. Handles
    all five scanline filters; rejects (ValueError) interlacing,
    palettes, alpha, and non-8-bit depths — out-of-scope formats fail
    loudly instead of decoding wrong."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    # Contract: EVERY malformed input raises ValueError — a corrupt or
    # truncated payload bearing the PNG magic would otherwise surface
    # struct.error (short IHDR) or zlib.error (damaged IDAT), escape
    # image_features' except-ValueError fall-through, and kill the
    # whole Spark task instead of yielding null features.
    try:
        while pos + 8 <= len(payload):
            (ln,), tag = struct.unpack(">I", payload[pos:pos + 4]), \
                payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + ln]
            pos += 12 + ln
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, interlace = \
                    struct.unpack(">IIBBBBB", data)
                if depth != 8 or ctype not in (0, 2) or interlace != 0:
                    raise ValueError(
                        f"unsupported PNG (depth={depth}, color={ctype}, "
                        f"interlace={interlace})")
                ch = 1 if ctype == 0 else 3
            elif tag == b"IDAT":
                idat.extend(data)
            elif tag == b"IEND":
                break
        if w is None:
            raise ValueError("no IHDR")
        raw = zlib.decompress(bytes(idat))
    except (struct.error, zlib.error) as exc:
        raise ValueError(f"malformed PNG: {exc}") from exc
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("bad IDAT length")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride,
            offset=y * (stride + 1) + 1).astype(np.int64)
        if ft == 0:
            rec = line
        elif ft == 2:
            rec = (line + prev) % 256
        else:
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a_ = int(rec[i - ch]) if i >= ch else 0
                b_ = int(prev[i])
                c_ = int(prev[i - ch]) if i >= ch else 0
                x = int(line[i])
                if ft == 1:
                    rec[i] = (x + a_) % 256
                elif ft == 3:
                    rec[i] = (x + (a_ + b_) // 2) % 256
                elif ft == 4:
                    rec[i] = (x + _paeth(a_, b_, c_)) % 256
                else:
                    raise ValueError(f"bad filter byte {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    if ch == 3:
        return w, h, out.reshape(h, w, 3)
    return w, h, out


def image_features(media: DataFrame, fake_width: int = 16) -> DataFrame:
    """Decode images and emit (width, height, mean pixel).

    Three branches per payload, most-capable first:
      1. REAL stdlib PNG decode (``png_decode``) when the payload
         carries the PNG signature — width/height from IHDR, mean over
         every decoded sample (all channels), exact integer sum / count
         so the value is differentially checkable (the
         mm_image_png_roundtrip oracle does exactly that).
      2. PIL, when importable, for other real formats (JPEG etc.) —
         absent in this container, import-try gated.
      3. The deterministic FAKE decoder otherwise: payload reinterpreted
         as a row-major uint8 greyscale image of width ``fake_width``
         (truncating the ragged tail) — keeps the plumbing (mapInPandas
         signature, struct schema, Arrow batches) testable on text-
         derived payloads, which can never carry the (non-ASCII) PNG
         magic.
    """
    import numpy as np
    import pandas as pd

    try:  # pragma: no cover - not available in this container
        from PIL import Image
        have_pil = True
    except ImportError:
        have_pil = False

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None))
                    continue
                is_png = bytes(payload[:8]) == PNG_MAGIC
                if is_png:
                    try:
                        w, h, arr = png_decode(bytes(payload))
                        rows.append(
                            (mid, w, h,
                             int(arr.astype(np.int64).sum()) / arr.size))
                        continue
                    except ValueError:
                        # out-of-codec-scope PNG (palette, alpha,
                        # 16-bit, interlaced): fall through to PIL when
                        # present, else nulls below — a real-but-
                        # undecodable image must not be reinterpreted
                        # by the fake grayscale path (silent garbage
                        # features) nor kill the query
                        pass
                if have_pil:  # pragma: no cover - PIL-bearing clusters
                    import io

                    arr = np.asarray(Image.open(io.BytesIO(bytes(payload))))
                    rows.append((mid, arr.shape[1], arr.shape[0],
                                 int(arr.astype(np.int64).sum()) / arr.size))
                    continue
                if is_png:
                    rows.append((mid, None, None, None))
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                h = len(arr) // fake_width
                if h == 0:
                    rows.append((mid, None, None, None))
                    continue
                img = arr[: h * fake_width].reshape(h, fake_width)
                # exact integer sum / exact count -> one IEEE division:
                # bit-identical to the DuckDB oracle (np.mean's pairwise
                # float summation would not be)
                rows.append((mid, fake_width, h,
                             int(img.astype(np.int64).sum()) / img.size))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "mean_px"])

    return media.select("media_id", "payload") \
                .mapInPandas(decode, schema=IMAGE_FEATURES_SCHEMA)


def media_as_png(media: DataFrame, width: int = 16) -> DataFrame:
    """Re-encode each payload's bytes as a REAL PNG: the byte stream
    becomes a ``width``-wide 8-bit greyscale image (ragged tail
    truncated; payloads shorter than one row are dropped). Exists so a
    differential oracle can reach the real decode branch — pixel
    values equal the original bytes, so DuckDB can predict
    width/height/mean with codepoint arithmetic while Spark runs the
    full encode→decode round trip through Arrow batches."""
    import pandas as pd

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ])

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                h = len(arr) // width
                if h == 0:
                    continue
                img = arr[: h * width].reshape(h, width)
                rows.append((mid, png_encode(img)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return media.select("media_id", "payload") \
                .mapInPandas(encode, schema=out_schema)


#: aHash geometry: 15 row-blocks x 4 col-blocks = 60 bits — deliberately
#: the repo's hash60/SimHash width, so the SAME lossless 4x15-bit chunk
#: banding (pigeonhole: hamming <= 3 => >= 1 identical chunk) generates
#: candidates for image near-dup exactly as simhash_pairs does for text.
AHASH_ROW_BLOCKS = 15
AHASH_COL_BLOCKS = 4

AHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("ahash", T.LongType(), True),
])


def _ahash_from_gray(img) -> int | None:
    """60-bit average hash of a 2-D integer image: truncate to
    15*(h//15) rows x 4*(w//4) cols, sum each of the 15x4 blocks, and
    set bit k = r*4+c iff 60*block_sum_k > total_sum. ALL-INTEGER by
    construction (the mean comparison is cross-multiplied, never a
    float division), so any engine that can sum the same pixels
    computes the identical fingerprint — the cross-engine discipline
    of functions/hashing.py applied to perceptual hashing. Returns
    None when the image has fewer than 15 rows or 4 cols (no stable
    geometry to hash)."""
    import numpy as np

    h, w = img.shape
    hb, wb = h // AHASH_ROW_BLOCKS, w // AHASH_COL_BLOCKS
    if hb == 0 or wb == 0:
        return None
    t = img[: AHASH_ROW_BLOCKS * hb, : AHASH_COL_BLOCKS * wb].astype(np.int64)
    blocks = t.reshape(AHASH_ROW_BLOCKS, hb, AHASH_COL_BLOCKS, wb) \
              .sum(axis=(1, 3))
    total = int(blocks.sum())
    fp = 0
    for r in range(AHASH_ROW_BLOCKS):
        for c in range(AHASH_COL_BLOCKS):
            if 60 * int(blocks[r, c]) > total:
                fp |= 1 << (r * AHASH_COL_BLOCKS + c)
    return fp


def image_ahash(media: DataFrame, fake_width: int = 16) -> DataFrame:
    """(media_id, ahash): 60-bit perceptual average-hash per image —
    the image-space analog of with_simhash. Same three decode branches
    as :func:`image_features` (real PNG -> png_decode; PIL when
    importable; deterministic fake ``fake_width``-wide grayscale
    otherwise); color images hash the per-pixel CHANNEL SUM (no
    division — integers all the way down). Undecodable or
    too-small-to-block payloads emit NULL, like image_features' nulls.

    A brightness-threshold aHash is the standard cheap image near-dup
    fingerprint (resize-and-compare family); bit k answers "is block k
    brighter than the image average", which survives re-encoding and
    minor edits — exactly the invariance a crawl-dedup pass wants.
    """
    import numpy as np
    import pandas as pd

    try:  # pragma: no cover - not available in this container
        from PIL import Image
        have_pil = True
    except ImportError:
        have_pil = False

    def hashes(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None))
                    continue
                is_png = bytes(payload[:8]) == PNG_MAGIC
                img = None
                if is_png:
                    try:
                        _, _, arr = png_decode(bytes(payload))
                        img = (arr.astype(np.int64).sum(axis=2)
                               if arr.ndim == 3 else arr)
                    except ValueError:
                        img = None  # real-but-undecodable: NULL below
                elif have_pil:  # pragma: no cover - PIL-bearing clusters
                    import io

                    try:
                        arr = np.asarray(
                            Image.open(io.BytesIO(bytes(payload))))
                        img = (arr.astype(np.int64).sum(axis=2)
                               if arr.ndim == 3 else arr)
                    except Exception:
                        # real-but-undecodable (corrupt JPEG etc.): NULL,
                        # same contract as the PNG branch — a bad payload
                        # must never kill the job (ADVICE r8)
                        img = None
                else:
                    arr = np.frombuffer(payload, dtype=np.uint8)
                    h = len(arr) // fake_width
                    if h > 0:
                        img = arr[: h * fake_width].reshape(h, fake_width)
                rows.append((mid, None if img is None
                             else _ahash_from_gray(img)))
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return media.select("media_id", "payload") \
                .mapInPandas(hashes, schema=AHASH_SCHEMA)


def _ahash_chunks(fps: DataFrame) -> DataFrame:
    """(doc, fp) -> (doc, fp, chunk, cv): the 4x15-bit banding keys the
    pair search buckets on — one row per (fingerprint, chunk)."""
    from .dedup import SIMHASH_CHUNK_BITS, SIMHASH_CHUNKS

    return fps.select(
        "doc", "fp",
        F.posexplode(F.array(*[
            F.expr(f"(fp >> {c * SIMHASH_CHUNK_BITS})"
                   f" & {(1 << SIMHASH_CHUNK_BITS) - 1}")
            for c in range(SIMHASH_CHUNKS)])).alias("chunk", "cv"))


def ahash_bucket_report(fps: DataFrame) -> DataFrame:
    """Per-banding-bucket workload histogram for :func:`ahash_pairs`:
    (chunk, cv, n, pairs) with pairs = n*(n-1)/2 — the EXACT intra-bucket
    pair count the quadratic bucket_pairs step materializes for that
    (chunk, cv) key. The image-modality twin of
    similarity.semantic_cell_report: degenerate crawl content
    (all-black thumbnails, blank placeholder images) hashes to identical
    aHash chunks, so one bucket silently holds the whole degenerate
    class; this report surfaces that as a giant `pairs` BEFORE the
    quadratic step runs. One map-combined hash-agg over the 4-per-image
    chunk keys; output is bounded by distinct (chunk, cv) — metadata-
    sized at any corpus. Takes the (doc, fp) frame so a stored
    fingerprint index can be audited without re-decoding payloads."""
    n = F.count(F.lit(1))
    return (_ahash_chunks(fps).groupBy("chunk", "cv")
            .agg(n.alias("n"),
                 (n * (n - F.lit(1)) / F.lit(2)).cast("long").alias("pairs"))
            .orderBy(F.desc("pairs"), F.asc("chunk"), F.asc("cv")))


def ahash_pairs_from_fps(fps: DataFrame, max_hamming: int = 3,
                         max_bucket_pairs: int | None = None) -> DataFrame:
    """Band + verify over a precomputed (doc, fp) fingerprint frame:
    (doc_a, doc_b, hamming) with Hamming <= max_hamming. NOTE: with
    ``max_bucket_pairs`` set the call is EAGER — the pair set is
    computed at call time and returned localCheckpoint'ed (lineage
    truncated: on executor loss the result is lost, not recomputed —
    prefer checkpoint(reliable) semantics on a real cluster); with the
    default ``None`` the usual lazy plan is returned. Public so
    crafted fingerprints can be driven straight through the banding SQL
    (the lossless-pigeonhole property is testable on the REAL pair
    path, not a hand-computed twin — ADVICE r8) and so a STORED
    fingerprint index can be paired without re-hashing payloads.

    ``max_bucket_pairs``: fail-fast workload budget on the banding
    buckets (the semantic_dedup ``max_cell_pairs`` pattern): when set,
    the metadata-sized :func:`ahash_bucket_report` runs first and any
    bucket whose n*(n-1)/2 exceeds the budget raises ValueError naming
    the offenders — at 100 TB that converts a degenerate-content
    straggler/OOM (one bucket = every blank thumbnail in the crawl)
    into an upfront, cheap abort. ``None`` keeps the unguarded
    behavior; under budget the result is identical (the guard reads,
    never filters).

    Cache lifecycle (ADVICE r9): when the guard runs, ``fps`` is
    persisted (MEMORY_AND_DISK) for the duration of the call so the
    guard's collect and the pair job share ONE evaluation — without it,
    a caller feeding :func:`ahash_fps` output pays the payload-decode
    mapInPandas pass twice, breaking the "payloads are hashed once"
    contract. The pair set is then eagerly computed (localCheckpoint,
    output-bounded) so the cache is released before the caller executes
    the returned frame — the ngram_jaccard_pairs materialize
    discipline. A caller-cached ``fps`` is left alone (neither
    persisted nor unpersisted here)."""
    from .util import bucket_pairs

    def pair_plan(f: DataFrame) -> DataFrame:
        return (
            bucket_pairs(_ahash_chunks(f), ["chunk", "cv"], ["doc", "fp"])
            .select("doc_a", "doc_b",
                    F.expr("bit_count(fp_a ^ fp_b)").alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
        )

    if max_bucket_pairs is None:
        return pair_plan(fps)
    from pyspark import StorageLevel

    owned = not fps.is_cached
    if owned:
        fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        hot = (ahash_bucket_report(fps)
               .where(F.col("pairs") > max_bucket_pairs).limit(5).collect())
        if hot:
            detail = ", ".join(f"(chunk {r['chunk']}, cv {r['cv']}): "
                               f"n={r['n']} pairs={r['pairs']}" for r in hot)
            raise ValueError(
                f"ahash_pairs bucket workload over budget "
                f"(max_bucket_pairs={max_bucket_pairs}): {detail}. "
                f"Degenerate image content (blank/black thumbnails) — "
                f"exact-dedup the offending class first or raise the "
                f"budget.")
        return pair_plan(fps).localCheckpoint(eager=True)
    finally:
        if owned:
            fps.unpersist()


def ahash_fps(media: DataFrame, fake_width: int = 16) -> DataFrame:
    """(doc, fp): non-null aHash fingerprints in the generic id/fp shape
    the pair search and the stored incremental index use — the
    image-modality analog of dedup.with_minhash_signature's output
    contract. ~9 bytes/image; this IS the index a continuously-
    ingesting pipeline persists (payloads are hashed once, at ingest)."""
    return (image_ahash(media, fake_width=fake_width)
            .where(F.col("ahash").isNotNull())
            .select(F.col("media_id").alias("doc"),
                    F.col("ahash").alias("fp")))


def ahash_pairs(media: DataFrame, max_hamming: int = 3,
                fake_width: int = 16,
                max_bucket_pairs: int | None = None) -> DataFrame:
    """Image near-duplicate pairs: (media_a, media_b, hamming) with
    Hamming(ahash_a, ahash_b) <= max_hamming. Candidates via the same
    lossless 4x15-bit chunk banding as text SimHash (pigeonhole:
    hamming <= 3 forces an identical chunk), exact bit_count(xor)
    verification — shuffle volume O(images x 4) band keys, never an
    image cross-join, and payload bytes never shuffle at all (the hash
    is computed in the map pass; only (id, 60-bit fp) moves).
    ``max_bucket_pairs`` forwards the degenerate-content fail-fast
    budget (see :func:`ahash_pairs_from_fps`)."""
    return (
        ahash_pairs_from_fps(ahash_fps(media, fake_width=fake_width),
                             max_hamming=max_hamming,
                             max_bucket_pairs=max_bucket_pairs)
        .select(F.col("doc_a").alias("media_a"),
                F.col("doc_b").alias("media_b"), "hamming")
    )


def ahash_pairs_incremental(new_media: DataFrame, corpus_fps: DataFrame,
                            max_hamming: int = 3,
                            fake_width: int = 16,
                            max_bucket_pairs: int | None = None,
                            new_fps: DataFrame | None = None
                            ) -> DataFrame:
    """Incremental image near-dup: match a NEW media batch against a
    PRECOMPUTED corpus fingerprint index. NOTE: with
    ``max_bucket_pairs`` set the call is EAGER (pair set computed at
    call time, localCheckpoint'ed — see :func:`ahash_pairs_from_fps`);
    lazy with the default ``None``. (``corpus_fps``: (doc, fp)
    from :func:`ahash_fps`) plus the batch itself — corpus PAYLOADS are
    never re-decoded; only the batch is hashed. Emits the same
    (media_a, media_b, hamming) contract as :func:`ahash_pairs`
    restricted to pairs with at least one new side — equivalently the
    full-corpus run's pairs minus the corpus-internal ones, the
    no-drift property the oracle checks (the
    minhash_lsh_pairs_incremental convention, dedup.py:529).

    100 TB shape: the index is one long per image (~0.01% of payload
    bytes), stored bucketed on (chunk, cv); the new-vs-corpus step is a
    co-located equi-join whose shuffle carries only the BATCH's 4
    chunk keys per image, so per-ingest cost is O(|batch| x 4 +
    matches), never O(corpus). Within-batch pairs reuse the standard
    bucket path on the batch's own chunks.

    ``max_bucket_pairs``: the batch form's degenerate-content fail-fast
    (see :func:`ahash_pairs_from_fps`), applied to the INGEST workload:
    the budget bounds per-bucket corpus-match work |corpus ∩ bucket| x
    |batch ∩ bucket| plus the within-batch quadratic — a blank-
    thumbnail class that dominates one bucket in the stored index makes
    EVERY future ingest pay it, so the guard reports against the union
    (index + batch) histogram and aborts before the join. Cache
    lifecycle under the guard mirrors :func:`ahash_pairs_from_fps`
    (ADVICE r9): the batch fingerprints are persisted so the guard's
    histogram and the two pair joins share one payload-decode pass,
    then the (output-bounded) pair set is eagerly computed and the
    cache released.

    ``new_fps``: caller-staged batch fingerprint frame (an
    :func:`ahash_fps` output the caller has already persisted —
    composed pipelines stage it once so the payload-decode pass is
    shared across decision, guard, and both pair branches; ADVICE
    r10). The caller owns its lifecycle (neither persisted nor
    unpersisted here). ``None`` (default) computes it from
    ``new_media``."""
    from .util import bucket_pairs

    caller_staged = new_fps is not None
    if new_fps is None:
        new_fps = ahash_fps(new_media, fake_width=fake_width)

    def pair_plan(nf: DataFrame) -> DataFrame:
        nb = _ahash_chunks(nf)
        cb = _ahash_chunks(corpus_fps)
        nc = (cb.select("chunk", "cv", F.col("doc").alias("c_doc"),
                        F.col("fp").alias("c_fp"))
              .join(nb.select("chunk", "cv", F.col("doc").alias("n_doc"),
                              F.col("fp").alias("n_fp")), ["chunk", "cv"])
              .where(F.col("c_doc") != F.col("n_doc"))
              .select(F.least("c_doc", "n_doc").alias("doc_a"),
                      F.greatest("c_doc", "n_doc").alias("doc_b"),
                      F.expr("bit_count(c_fp ^ n_fp)").alias("hamming"))
              .dropDuplicates(["doc_a", "doc_b"]))
        nn = (bucket_pairs(nb.select("doc", "fp", "chunk", "cv"),
                           ["chunk", "cv"], ["doc", "fp"])
              .select("doc_a", "doc_b",
                      F.expr("bit_count(fp_a ^ fp_b)").alias("hamming")))
        return (nc.unionByName(nn)
                .where(F.col("hamming") <= max_hamming)
                .select(F.col("doc_a").alias("media_a"),
                        F.col("doc_b").alias("media_b"), "hamming"))

    if max_bucket_pairs is None:
        return pair_plan(new_fps)
    from pyspark import StorageLevel

    if not caller_staged:
        new_fps = new_fps.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        hot = (ahash_bucket_report(corpus_fps.unionByName(new_fps))
               .where(F.col("pairs") > max_bucket_pairs).limit(5).collect())
        if hot:
            detail = ", ".join(f"(chunk {r['chunk']}, cv {r['cv']}): "
                               f"n={r['n']} pairs={r['pairs']}" for r in hot)
            raise ValueError(
                f"ahash_pairs_incremental bucket workload over budget "
                f"(max_bucket_pairs={max_bucket_pairs}): {detail}. "
                f"Degenerate image content in the stored index or the "
                f"batch — exact-dedup the offending class or raise the "
                f"budget.")
        return pair_plan(new_fps).localCheckpoint(eager=True)
    finally:
        if not caller_staged:
            new_fps.unpersist()


def _digest_docs(samples: DataFrame, pos_col: str,
                 md5_col: str) -> DataFrame:
    """(doc_id, text): each media_id's ``md5_col`` digests in
    ``pos_col`` order, space-joined — one hash shuffle on media_id."""
    return (samples.groupBy("media_id")
            .agg(F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(
                        F.struct(pos_col, md5_col))),
                    lambda s: s[md5_col]),
                " ").alias("text"))
            .select(F.col("media_id").alias("doc_id"), "text"))


def frame_docs(media: DataFrame) -> DataFrame:
    """(doc_id, text): each media payload reduced to its SAMPLED FRAME
    DIGEST SEQUENCE — frame_sample's md5s in frame order, space-joined.
    This is the standard video-dedup reduction: a video becomes a
    "document" whose tokens are content-addressed frame fingerprints,
    and every text set-similarity operator (Jaccard, containment,
    MinHash) applies verbatim to the video modality. One hash shuffle
    on media_id (the per-media digest collect); payload bytes die in
    frame_sample's map pass — only 32-char digests move."""
    return _digest_docs(frame_sample(media), "frame_no", "frame_md5")


def video_neardup_pairs(media: DataFrame, threshold: float = 0.3,
                        materialize: bool = True) -> DataFrame:
    """Video near-duplicate pairs: 3-frame-run shingle Jaccard >=
    ``threshold`` over the sampled frame-digest sequence — literally
    operators/dedup.ngram_jaccard_pairs on :func:`frame_docs` output,
    so the candidate generation inherits the lossless All-Pairs prefix
    filter and its scale contract unchanged. Temporal-order sensitive
    BY DESIGN: a shingle is a run of 3 consecutive sampled frames, so
    two videos match on shared SEGMENTS (re-encodes, trims, recuts
    with common footage), not on a bag of frames.

    Frame digests have a REALISTIC hot-shingle case — black/blank/
    intro frame runs shared by millions of videos land one shingle hash
    on one window partition in the window DF path. The engine's sampled
    DF-path decision picks the partial-agg form when hot, exactly as
    for text; the decision moves the plan, never the pairs (the prefix
    filter is lossless either way)."""
    from .dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(frame_docs(media), threshold=threshold,
                               materialize=materialize)


def video_frame_index(media: DataFrame) -> DataFrame:
    """(doc, sh): the stored video near-dup index — each media's
    3-frame-run shingle set over its sampled frame digests
    (dedup.shingled_docs on :func:`frame_docs` output). This is what a
    continuously-ingesting pipeline persists per accepted video:
    ~32 bytes x sampled frames, payload bytes are read once at ingest
    and never again."""
    from .dedup import shingled_docs

    return shingled_docs(frame_docs(media))


def video_neardup_pairs_incremental(new_media: DataFrame,
                                    corpus_index: DataFrame,
                                    threshold: float = 0.3,
                                    batch_shingles: DataFrame | None = None
                                    ) -> DataFrame:
    """Incremental video near-dup: which NEW videos share segments
    (3-frame-run shingle Jaccard >= ``threshold``) with an already-
    ingested corpus or a batch sibling. ``corpus_index`` is the stored
    digest-shingle index (:func:`video_frame_index` output) — corpus
    PAYLOADS are never re-read or re-framed; only the batch is decoded.

    Lossless by the symmetric prefix-filter pigeonhole — see
    dedup.jaccard_pairs_incremental_from_index, the round-10 shared
    core this function delegates to (the body lived here alone through
    round 9; text and audio incrementals now run the same verified
    engine): per-ingest SHUFFLED rows are O(|batch| + prefix-hit index
    + matches), never a corpus pair scan.

    Emits (doc_a, doc_b, jaccard), doc_a < doc_b, exactly the
    full-corpus run's pairs with at least one new side (no-drift, the
    oracle contract). The batch-local DF path is decided from a sample
    of the BATCH: the blank-frame hot-shingle case exists for batches
    too — a drop of intro-card videos lands one digest shingle on one
    window partition; the decision moves the plan, never the pairs.

    ``batch_shingles``: caller-staged batch shingle frame (a
    ``shingled_docs(frame_docs(new_media))`` output the caller has
    persisted — composed pipelines stage it once so the payload-decode
    pass is shared across the DF-path decision and every pair-plan
    branch; ADVICE r10). Caller owns its lifecycle. ``None`` computes
    it."""
    from .dedup import jaccard_pairs_incremental_from_index, shingled_docs

    batch = (batch_shingles if batch_shingles is not None
             else shingled_docs(frame_docs(new_media)))
    return jaccard_pairs_incremental_from_index(
        batch, corpus_index, threshold=threshold)


# ---------------------------------------------------------------------------
# Audio near-dup (VERDICT r9 missing #1): overlapping byte-window
# digests -> the same shingle-Jaccard machinery as video. Audio
# fingerprinting's standard reduction is OVERLAPPING analysis windows
# (hop < window, Shazam/chromaprint-style) so shared segments stay
# aligned at hop granularity after hop-aligned trims/concats; each
# window becomes a content-addressed digest token and every text/video
# set-similarity operator applies verbatim.
# ---------------------------------------------------------------------------

#: audio analysis-window geometry: 64-byte windows every 32 bytes (50%
#: overlap). On real audio these would be decoded-PCM windows; here the
#: opaque payload bytes stand in — the Spark-side plumbing (schema,
#: partitioning, batch shape, shuffle volume) is identical either way.
AUDIO_WINDOW = 64
AUDIO_HOP = 32

AUDIO_WINDOW_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("win_no", T.LongType(), False),
    T.StructField("win_md5", T.StringType(), False),
])


def audio_window_sample(media: DataFrame, window: int = AUDIO_WINDOW,
                        hop: int = AUDIO_HOP) -> DataFrame:
    """(media_id, win_no, win_md5): md5 digest of every ``hop``-spaced
    ``window``-byte slice of each payload — the audio analog of
    :func:`frame_sample`, with OVERLAP (hop < window) because audio
    similarity lives in segments, not frame boundaries. Arrow-batched
    mapInPandas; payloads shorter than one window emit nothing (no
    stable segment to fingerprint). Only (id, win_no, 32-char digest)
    leaves the map pass — payload bytes never shuffle."""
    import hashlib

    import pandas as pd

    if hop < 1 or window < 1:
        raise ValueError(f"window/hop must be >= 1, got {window}/{hop}")

    def wins(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) < window:
                    continue
                n_wins = (len(payload) - window) // hop + 1
                for wno in range(n_wins):
                    chunk = payload[wno * hop:wno * hop + window]
                    rows.append((mid, wno,
                                 hashlib.md5(chunk).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "media_id", "win_no", "win_md5"])

    return media.select("media_id", "payload") \
                .mapInPandas(wins, schema=AUDIO_WINDOW_SCHEMA)


def audio_docs(media: DataFrame) -> DataFrame:
    """(doc_id, text): each media payload reduced to its WINDOW DIGEST
    SEQUENCE — audio_window_sample's md5s in window order, space-joined
    — so an audio track becomes a "document" whose tokens are
    content-addressed segment fingerprints and the text set-similarity
    operators apply verbatim (the :func:`frame_docs` reduction, audio
    geometry). One hash shuffle on media_id (the per-media digest
    collect); payload bytes die in the map pass."""
    return _digest_docs(audio_window_sample(media), "win_no", "win_md5")


def audio_neardup_pairs(media: DataFrame, threshold: float = 0.3,
                        materialize: bool = True) -> DataFrame:
    """Audio near-duplicate pairs: 3-window-run shingle Jaccard >=
    ``threshold`` over the overlapping window-digest sequence —
    operators/dedup.ngram_jaccard_pairs on :func:`audio_docs` output,
    inheriting the lossless All-Pairs prefix filter and its scale
    contract unchanged (the :func:`video_neardup_pairs` composition,
    closing the modality near-dup gap: image aHash / video frames /
    audio windows all band-and-verify). Segment-order sensitive BY
    DESIGN: a shingle is a run of 3 consecutive windows, so two tracks
    match on shared SEGMENTS (re-encodes, trims, splices with common
    material), not a bag of windows. Silence runs and shared intro
    jingles are the audio modality's structurally realistic hot shingle
    (the blank-frame argument, byte-for-byte); the sampled DF-path
    decision handles them as for video."""
    from .dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(audio_docs(media), threshold=threshold,
                               materialize=materialize)


def audio_window_index(media: DataFrame) -> DataFrame:
    """(doc, sh): the stored audio near-dup index — each media's
    3-window-run shingle set over its overlapping window digests
    (dedup.shingled_docs on :func:`audio_docs` output, the
    :func:`video_frame_index` convention). ~32 bytes x windows per
    track; payload bytes are read once at ingest and never again."""
    from .dedup import shingled_docs

    return shingled_docs(audio_docs(media))


def audio_neardup_pairs_incremental(new_media: DataFrame,
                                    corpus_index: DataFrame,
                                    threshold: float = 0.3,
                                    batch_shingles: DataFrame | None = None
                                    ) -> DataFrame:
    """Incremental audio near-dup: which NEW tracks share segments
    (3-window-run shingle Jaccard >= ``threshold``) with an already-
    ingested corpus or a batch sibling. ``corpus_index`` is the stored
    digest-shingle index (:func:`audio_window_index` output) — corpus
    PAYLOADS are never re-read or re-windowed; only the batch is
    digested. Same shared core, guarantees, and no-drift contract as
    the video and text incrementals
    (dedup.jaccard_pairs_incremental_from_index). ``batch_shingles``:
    caller-staged ``shingled_docs(audio_docs(new_media))`` frame (see
    :func:`video_neardup_pairs_incremental`)."""
    from .dedup import jaccard_pairs_incremental_from_index, shingled_docs

    batch = (batch_shingles if batch_shingles is not None
             else shingled_docs(audio_docs(new_media)))
    return jaccard_pairs_incremental_from_index(
        batch, corpus_index, threshold=threshold)


# ---------------------------------------------------------------------------
# Composed incremental multimodal ingest (VERDICT r9 missing #3): the
# per-drop accept decision over all three modality indexes — the media
# twin of ingest.ingest_batch.
# ---------------------------------------------------------------------------

#: byte-stats admission floor shared with the batch pipeline
#: (queries/multimodal_q.py mm_ingest_pipeline): aligned with the aHash
#: geometry minimum so every admitted image has a real fingerprint.
MEDIA_MIN_BYTES = 240


def media_ingest_incremental(new_media: DataFrame,
                             image_fps: DataFrame,
                             video_index: DataFrame,
                             audio_index: DataFrame,
                             min_bytes: int = MEDIA_MIN_BYTES) -> DataFrame:
    """Accept-filter a new media drop against the standing per-modality
    fingerprint indexes; returns the accepted catalog rows
    (media_id, kind, n_bytes). This composes the three modality
    incrementals the way mm_ingest_pipeline composes the batch forms —
    per-drop cost is O(|batch| + index hits), corpus payloads are never
    re-read (VERDICT r9 missing #3; the text twin is
    ingest.ingest_batch).

    Stages: byte-stats admission gate (n_bytes >= ``min_bytes``) ->
    per-modality near-dup pairs with at least one new side
    (:func:`ahash_pairs_incremental` vs ``image_fps``,
    :func:`video_neardup_pairs_incremental` vs ``video_index``,
    :func:`audio_neardup_pairs_incremental` vs ``audio_index``) ->
    accept decision per modality.

    Accept decision (corpus-immutable ingest): already-accepted corpus
    media can never be retracted, so
      * a batch doc that near-dups ANY corpus doc is dropped, and so is
        every batch doc CONNECTED to one through within-batch pairs
        (its full-run component contains a corpus doc — the
        component-taint rule that makes keep-first modalities equal
        the batch pipeline restricted to batch ids, pytest-pinned);
      * a corpus-untouched within-batch component keeps the batch
        pipeline's winner — images the LARGEST copy (n_bytes DESC,
        min-id tiebreak, dedup_survivors keep="best"), video/audio the
        minimum id.
    The one documented divergence from re-running the batch pipeline
    over corpus ∪ drop: a batch image strictly larger than its corpus
    twin would win a full re-run, but an ingest cannot retract the
    corpus copy — the corpus side wins here by construction.

    The stored indexes follow the family convention: fingerprints of
    every previously GATED doc (survivors and dropped alike — the
    min-id/no-drift argument of semantic_dedup_incremental's docstring),
    written at first ingest; corpus payload bytes are hashed exactly
    once per media lifetime (at index build), and within one call the
    BATCH's payloads are decoded once per modality: the batch
    fingerprint/shingle frames are staged persisted here, so the DF-path
    decision, the corpus-match join, and the within-batch pair branch
    all read one decode pass (ADVICE r10 — previously the image decode
    ran twice and the video/audio decode ~4x per call). Replay safety
    is the ingest_embeddings_stream convention: exclude the replayed
    drop's own index partition before calling, and the accept decision
    is bit-identical (pytest-pinned). The video and audio incrementals
    each take their DF-path decision once, on the STAGED batch shingle
    frame (its one action is also that frame's cache materialization).
    """
    from pyspark import StorageLevel

    from .dedup import (cluster_representatives, dedup_clusters,
                        shingled_docs)

    # Cache lifecycle (the ngram_jaccard_pairs materialize discipline):
    # the gate catalog feeds every modality branch (cat_k, bids, the
    # final union) and each modality's flagged pair frame feeds hit/
    # bb/clusters — both are re-derived per consumer if left lazy, and
    # the pair frames sit on top of the batch's payload-decode passes.
    # Persist both, eagerly compute each modality's (batch-bounded)
    # accept set, and release before returning.
    # admission gate = n_bytes only, and n_bytes IS octet length: a
    # JVM length(payload) expression, NOT the byte_stats Arrow decode
    # pass (guide §4.1 — r16: the gate previously paid a full-batch
    # Python decode to compute byte_sum/sqsum it then discarded).
    # Identical rows: byte_stats.n_bytes == length(payload), NULL
    # payloads drop under >= on both forms.
    stats = new_media.select(
        "media_id", F.length("payload").alias("n_bytes"))\
        .where(F.col("n_bytes") >= min_bytes)
    catalog = (new_media.select("media_id", "kind")
               .join(stats.select("media_id", "n_bytes"), "media_id")
               .persist(StorageLevel.MEMORY_AND_DISK))
    staged: list[DataFrame] = []

    def stage(frame: DataFrame) -> DataFrame:
        f = frame.persist(StorageLevel.MEMORY_AND_DISK)
        staged.append(f)
        return f

    try:
        catalog.count()
        gated = new_media.join(catalog.select("media_id"), "media_id")

        # Stage each modality's batch-side decode output ONCE (ADVICE
        # r10): every downstream consumer — the DF-path decision, the
        # corpus-match join, the within-batch pair branch — reads the
        # cache instead of re-running the payload-decode map pass.
        img_fps = stage(ahash_fps(gated.where(F.col("kind") == "image")))
        vid_sh = stage(shingled_docs(frame_docs(
            gated.where(F.col("kind") == "video"))))
        aud_sh = stage(shingled_docs(audio_docs(
            gated.where(F.col("kind") == "audio"))))
        from .dedup import CLUSTERS_DRIVER_MAX_EDGES

        def modality(kind: str, pairs: DataFrame, a_col: str, b_col: str,
                     keep: str, score=None) -> DataFrame:
            cat_k = catalog.where(F.col("kind") == kind)
            # batch-membership flag AND the keep-best score in one join
            # column: n_bytes is non-null for every catalog member (the
            # byte gate is an inner join), so _ba/_bb double as the
            # presence flags the old _na/_nb booleans carried
            flags = catalog.select("media_id", "n_bytes")
            p = (pairs.select(F.col(a_col).alias("pa"),
                              F.col(b_col).alias("pb"))
                 .join(flags.select(F.col("media_id").alias("pa"),
                                    F.col("n_bytes").alias("_ba")),
                       "pa", "left")
                 .join(flags.select(F.col("media_id").alias("pb"),
                                    F.col("n_bytes").alias("_bb")),
                       "pb", "left"))
            # Fused accept decision (r16, guide §1.2/§2.4): the pair
            # list is OUTPUT-bounded (near-dup volume with at least one
            # new side, never batch x corpus), so below the
            # dedup_clusters driver bound ONE bounded collect replaces
            # the old persist/count + dedup_clusters (count+collect) +
            # eager localCheckpoint chain (~10-14 AQE stage jobs per
            # modality of pure scheduling constants on ~100-row data);
            # hit, within-batch components (union-find), taint, and
            # winners are computed driver-side in one pass, and the
            # modality result collapses to a single filter of the
            # persisted catalog. Above the bound the pre-r16
            # distributed chain runs unchanged.
            cap = max(1, CLUSTERS_DRIVER_MAX_EDGES // 2)
            rows = p.limit(cap + 1).collect()
            if len(rows) <= cap:
                hit: set = set()
                bb_edges: list = []
                nbytes: dict = {}
                for r in rows:
                    in_a, in_b = r._ba is not None, r._bb is not None
                    if in_a and in_b:
                        bb_edges.append((r.pa, r.pb))
                        nbytes[r.pa] = r._ba
                        nbytes[r.pb] = r._bb
                    elif in_a:
                        hit.add(r.pa)
                    elif in_b:
                        hit.add(r.pb)
                parent: dict = {}

                def find(x):
                    root = x
                    while parent[root] != root:
                        root = parent[root]
                    while parent[x] != root:  # path compression
                        parent[x], x = root, parent[x]
                    return root

                for a, b in bb_edges:
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        if rb < ra:
                            ra, rb = rb, ra
                        parent[rb] = ra
                comp: dict = {}
                for d in parent:
                    comp.setdefault(find(d), []).append(d)
                dropped = set(hit)
                for members in comp.values():
                    if any(d in hit for d in members):
                        # corpus-tainted component: every member drops
                        dropped.update(members)
                    elif keep == "first":
                        keeper = min(members)
                        dropped.update(d for d in members if d != keeper)
                    else:
                        # arg-max n_bytes, min-id tiebreak (NULLs last —
                        # cannot occur for catalog members, kept for the
                        # cluster_representatives parity)
                        keeper = min(
                            members,
                            key=lambda d: (-(nbytes[d] if nbytes[d]
                                             is not None
                                             else float("-inf")), d))
                        dropped.update(d for d in members if d != keeper)
                if not dropped:
                    return cat_k
                if len(dropped) <= 1000:
                    # in-scan predicate: no extra join stage
                    return cat_k.where(
                        ~F.col("media_id").isin(*sorted(dropped)))
                id_type = catalog.schema["media_id"].dataType
                from pyspark.sql.types import StructField, StructType

                drop_df = catalog.sparkSession.createDataFrame(
                    [(d,) for d in sorted(dropped)],
                    StructType([StructField("media_id", id_type)]))
                return cat_k.join(F.broadcast(drop_df), "media_id",
                                  "left_anti")
            # ---- over the driver bound: pre-r16 distributed chain ----
            p = p.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                p.count()
                # batch docs paired straight to a corpus doc
                hit_df = (p.where(F.col("_bb").isNull())
                          .select(F.col("pa").alias("doc"))
                          .unionByName(p.where(F.col("_ba").isNull())
                                       .select(F.col("pb").alias("doc")))
                          .distinct())
                # within-batch edges -> ONE components run (its output
                # is lineage-truncated, so taint, losers, and winners
                # all read it cheaply — calling dedup_survivors here
                # would cluster the same edges a second time)
                bb = (p.where(F.col("_ba").isNotNull()
                              & F.col("_bb").isNotNull())
                      .select(F.col("pa").alias("doc_a"),
                              F.col("pb").alias("doc_b")))
                clusters = dedup_clusters(bb)
                tainted = (clusters.join(hit_df, "doc", "left_semi")
                           .select("keep_id").distinct())
                taint_members = (clusters
                                 .join(tainted, "keep_id", "left_semi")
                                 .select("doc"))
                drop0 = (hit_df.unionByName(taint_members).distinct()
                         .withColumnRenamed("doc", "media_id"))
                rest = cat_k.join(drop0, "media_id", "left_anti")
                if keep == "first":
                    losers = (clusters
                              .where(F.col("doc") != F.col("keep_id"))
                              .select(F.col("doc").alias("media_id")))
                    out = rest.join(losers, "media_id", "left_anti")
                else:
                    out = cluster_representatives(rest, clusters, score,
                                                  id_col="media_id")
                return out.localCheckpoint(eager=True)
            finally:
                p.unpersist()

        # The three modality pipelines share no state (catalog is
        # staged above) — run each as ONE independent lane
        # (materialize the staged decode cache — for the shingle lanes
        # that is the inner incremental's DF-path decision — then build
        # and collect the pairs) in a 3-worker pool (guide §2.6; r16
        # removed the r15 barrier between a staging pool and a
        # modality pool — audio's pair collect now starts while video
        # is still staging). Each lane's FIRST action on its staged
        # frame is single-threaded within the lane, so the ADVICE-r10
        # one-decode-per-modality contract holds without a separate
        # staging pass. Results are deterministic regardless of
        # completion order.
        from concurrent.futures import ThreadPoolExecutor

        def lane_img() -> DataFrame:
            img_fps.count()  # materialize before the multi-consumer plan
            return modality(
                "image",
                ahash_pairs_incremental(
                    gated.where(F.col("kind") == "image"), image_fps,
                    new_fps=img_fps),
                "media_a", "media_b", "best", F.col("n_bytes"))

        def lane_shingle(kind: str, staged_sh: DataFrame, index: DataFrame,
                         pair_fn) -> DataFrame:
            return modality(
                kind,
                pair_fn(gated.where(F.col("kind") == kind), index,
                        batch_shingles=staged_sh),
                "doc_a", "doc_b", "first")

        with ThreadPoolExecutor(max_workers=3) as ex:
            img_f = ex.submit(lane_img)
            vid_f = ex.submit(lane_shingle, "video", vid_sh, video_index,
                              video_neardup_pairs_incremental)
            aud_f = ex.submit(lane_shingle, "audio", aud_sh, audio_index,
                              audio_neardup_pairs_incremental)
            img, vid, aud = (img_f.result(), vid_f.result(),
                             aud_f.result())
        # ONE eager checkpoint materializes all three (driver-path
        # lazy) modality filters while the catalog cache is still
        # alive (r16 — replaces three per-modality eager checkpoints)
        return (img.unionByName(vid).unionByName(aud)
                .select("media_id", "kind", "n_bytes")
                .localCheckpoint(eager=True))
    finally:
        for f in staged:
            f.unpersist()
        catalog.unpersist()


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("energy", T.LongType(), True),
    T.StructField("zero_crossings", T.LongType(), True),
])


def audio_features(media: DataFrame) -> DataFrame:
    """Byte-domain audio features via Arrow-batched mapInPandas —
    (media_id, n_samples, energy, zero_crossings), the audio analog of
    :func:`image_features`. Payload bytes are read as signed-centered
    8-bit samples (b - 128, the unsigned-PCM convention): ``energy`` =
    Σ s² (exact integer — the loudness proxy), ``zero_crossings`` =
    #{i : s_i · s_{i+1} < 0} (the classic cheap spectral-content
    proxy; a zero sample breaks a crossing, matching the strict-<
    product rule on both engines). Real PCM/codec decode is out of
    scope in this container (no audio libraries) — the deterministic
    byte interpretation stands in, and the Spark plumbing (Arrow batch
    shape, schema, zero shuffle, NULL row per NULL payload) is the
    tested deliverable, same contract as byte_stats. All outputs are
    integers so the DuckDB oracle checks the whole Python path
    value-exactly."""
    import numpy as np
    import pandas as pd

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None))
                    continue
                s = (np.frombuffer(payload, dtype=np.uint8)
                     .astype(np.int64) - 128)
                zc = int((s[:-1] * s[1:] < 0).sum()) if len(s) > 1 else 0
                rows.append((mid, len(s), int((s * s).sum()), zc))
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_samples", "energy", "zero_crossings"])

    return media.select("media_id", "payload") \
                .mapInPandas(feats, schema=AUDIO_FEATURES_SCHEMA)
