"""Multimodal columns (SURVEY.md section 2 B10 multimodal_binary): media as
opaque binary columns + typed metadata structs, with decode/feature-extract
as Arrow-batched mapInPandas stages.

The reference treats every file as an opaque blob with a metadata map
(A14 zip bytes child.py:94-121, A18 upload metadata child.py:200-204);
this module is that model with media semantics. The image/audio libraries
are NOT in this container, so the actual pixel/sample decode is a stub
(NotImplementedError) behind a deterministic fake — the Spark-side
plumbing (schema, batching, partitioning, UDF signature) is real and
tested, and a real decoder drops in without touching the plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register

#: Output schema of the feature-extract stage: one row per media object.
FEATURE_SCHEMA = (
    "file_name string, length bigint, magic_hex string, "
    "fake_width int, fake_height int, feature_crc bigint"
)


def decode_image(content: bytes):  # pragma: no cover - stub by design
    """REAL decode hook — requires an image codec not present in this
    container. Swap in PIL/libvips here; extract_features() only consumes
    (width, height, pixel_digest)."""
    raise NotImplementedError("image codec not available in this environment")


def _fake_decode(content: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode_image: derives a fake (width,
    height, digest) from the bytes themselves, so tests pin the plumbing
    without a codec."""
    d = hashlib.md5(content[:4096]).digest()
    width = 64 + d[0]  # 64..319
    height = 64 + d[1]
    crc = int.from_bytes(d[2:10], "big") >> 1
    return width, height, crc


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: binaryFile rows -> feature rows. Arrow moves the
    binary column in columnar batches; at scale this runs one python worker
    per task with zero driver involvement."""
    for pdf in batches:
        rows = []
        for path, length, content in zip(pdf["path"], pdf["length"], pdf["content"]):
            blob = bytes(content)
            try:
                width, height, crc = _fake_decode(blob)
                rows.append(
                    {
                        "file_name": str(path).rsplit("/", 1)[-1],
                        "length": int(length),
                        "magic_hex": blob[:4].hex(),
                        "fake_width": width,
                        "fake_height": height,
                        "feature_crc": crc,
                    }
                )
            except Exception:
                # quarantine semantics (A21): a bad blob yields a null
                # feature row, never a task failure
                rows.append(
                    {
                        "file_name": str(path).rsplit("/", 1)[-1],
                        "length": int(length),
                        "magic_hex": None,
                        "fake_width": None,
                        "fake_height": None,
                        "feature_crc": None,
                    }
                )
        yield pd.DataFrame(rows)


def _read_fixture_blobs(sf_dir: str) -> list[tuple[str, bytes]]:
    from ..goldens import fixture_parquets

    out = []
    for p in fixture_parquets(sf_dir):
        with open(p, "rb") as fh:
            out.append((p.rsplit("/", 1)[-1], fh.read()))
    return out


def _binary_oracle(sf_dir: str) -> str | None:
    """Golden VALUES: replay _fake_decode in plain Python over the same
    fixture bytes the binaryFile scan reads. Computed from the files in
    `sf_dir` when first asked for, so TESTDATA regeneration between rounds
    cannot stale it. This checks
    the ENTIRE Spark path (binaryFile scan -> Arrow batching ->
    mapInPandas -> schema projection) against an engine-free reference —
    the strongest oracle available for a non-SQL pipeline."""
    from ..goldens import values_oracle

    try:
        blobs = _read_fixture_blobs(sf_dir)
    except OSError:
        return None
    rows = []
    for name, blob in blobs:
        w, h, crc = _fake_decode(blob)
        rows.append((name, len(blob), blob[:4].hex(), w, h, crc))
    return values_oracle(
        rows,
        ["file_name", "length", "magic_hex", "fake_width", "fake_height", "feature_crc"],
        order_by="file_name",
        casts={"length": "BIGINT", "feature_crc": "BIGINT"},
    )


@register("multimodal_binary", oracle=_binary_oracle)
def multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-as-rows pipeline: binaryFile scan -> mapInPandas feature
    extraction (typed FEATURE_SCHEMA) -> flat feature columns. Uses the
    parquet fixtures themselves as opaque blobs (any bytes work — that is
    the point of the opaque-binary model). Output is flattened (no struct
    column) so the golden oracle can value-hash it engine-neutrally; the
    typed metadata lives in FEATURE_SCHEMA."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    feats = files.mapInPandas(extract_features, schema=FEATURE_SCHEMA)
    return feats.select(
        "file_name",
        "length",
        "magic_hex",
        "fake_width",
        "fake_height",
        "feature_crc",
    ).orderBy("file_name")


FRAME_SCHEMA = "file_name string, frame_idx int, frame_ts_ms bigint, frame_digest string"

#: fake fixed frame rate for the sampler stub (frames every 2000 ms)
FRAME_INTERVAL_MS = 2000
FRAMES_PER_FILE = 4


def decode_video_frames(content: bytes):  # pragma: no cover - stub by design
    """REAL frame-decode hook — requires a video codec (ffmpeg/pyav) not
    present in this container. sample_frames() only consumes an iterable
    of (frame_idx, ts_ms, frame_bytes)."""
    raise NotImplementedError("video codec not available in this environment")


def _fake_frames(content: bytes):
    """Deterministic stand-in for decode_video_frames: derives N pseudo
    frames by slicing the blob — same 1->N shape, schema, and batch
    behavior as a real sampler."""
    n = max(1, len(content))
    for i in range(FRAMES_PER_FILE):
        lo = (i * n) // FRAMES_PER_FILE
        yield i, i * FRAME_INTERVAL_MS, content[lo : lo + 256]


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->N stage: each media blob fans out to one row per
    sampled frame (the video analog of the ingest zip explode A14). The
    blob itself never leaves the executor; only fixed-width frame
    metadata + digests shuffle."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            blob = bytes(content)
            for idx, ts_ms, frame in _fake_frames(blob):
                rows.append(
                    {
                        "file_name": str(path).rsplit("/", 1)[-1],
                        "frame_idx": idx,
                        "frame_ts_ms": ts_ms,
                        "frame_digest": hashlib.md5(frame).hexdigest(),
                    }
                )
        yield pd.DataFrame(rows)


def _framesample_oracle(sf_dir: str) -> str | None:
    """Golden VALUES replay of the 1->N frame fan-out (see _binary_oracle
    rationale)."""
    from ..goldens import values_oracle

    try:
        blobs = _read_fixture_blobs(sf_dir)
    except OSError:
        return None
    rows = []
    for name, blob in blobs:
        for idx, ts_ms, frame in _fake_frames(blob):
            rows.append((name, idx, ts_ms, hashlib.md5(frame).hexdigest()))
    return values_oracle(
        rows,
        ["file_name", "frame_idx", "frame_ts_ms", "frame_digest"],
        order_by="file_name, frame_idx",
        casts={"frame_ts_ms": "BIGINT"},
    )


@register("multimodal_framesample", oracle=_framesample_oracle)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame sampling pipeline: binaryFile scan -> mapInPandas
    frame fan-out (stubbed codec, real plumbing) -> per-frame rows ready
    for feature extraction. Deterministic digests make the output
    row-stable across runs."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    frames = files.mapInPandas(sample_frames, schema=FRAME_SCHEMA)
    return frames.orderBy("file_name", "frame_idx")


RESIZE_SCHEMA = (
    "file_name string, src_width int, src_height int, "
    "dst_width int, dst_height int, scale double, thumb_digest string"
)

#: resize target: longest edge (aspect-preserving thumbnail)
RESIZE_LONGEST_EDGE = 128


def resize_image(content: bytes, longest_edge: int):  # pragma: no cover - stub
    """REAL resize hook — requires an image codec (PIL/libvips) not in this
    container. make_thumbnails() only consumes (dst_w, dst_h, thumb_bytes)."""
    raise NotImplementedError("image codec not available in this environment")


def _fake_resize(content: bytes, longest_edge: int):
    """Deterministic stand-in for resize_image: fake source dims from
    _fake_decode, exact aspect-preserving target math (the REAL part —
    this is what a drop-in codec must reproduce), thumbnail bytes modeled
    as a content slice."""
    src_w, src_h, _ = _fake_decode(content)
    scale = longest_edge / max(src_w, src_h)
    dst_w = max(1, round(src_w * scale))
    dst_h = max(1, round(src_h * scale))
    return src_w, src_h, dst_w, dst_h, scale, content[: dst_w * dst_h // 8]


def make_thumbnails(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: binaryFile rows -> thumbnail metadata rows. The
    full-size blob stays inside the executor; only fixed-size thumbnail
    records (and at scale, the small resized bytes) move on."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            blob = bytes(content)
            try:
                src_w, src_h, dst_w, dst_h, scale, thumb = _fake_resize(
                    blob, RESIZE_LONGEST_EDGE
                )
                rows.append(
                    {
                        "file_name": str(path).rsplit("/", 1)[-1],
                        "src_width": src_w,
                        "src_height": src_h,
                        "dst_width": dst_w,
                        "dst_height": dst_h,
                        "scale": scale,
                        "thumb_digest": hashlib.md5(thumb).hexdigest(),
                    }
                )
            except Exception:
                rows.append(
                    {
                        "file_name": str(path).rsplit("/", 1)[-1],
                        "src_width": None,
                        "src_height": None,
                        "dst_width": None,
                        "dst_height": None,
                        "scale": None,
                        "thumb_digest": None,
                    }
                )
        yield pd.DataFrame(rows)


def _resize_oracle(sf_dir: str) -> str | None:
    """Golden VALUES replay of the aspect-preserving resize math (see
    _binary_oracle rationale)."""
    from ..goldens import values_oracle

    try:
        blobs = _read_fixture_blobs(sf_dir)
    except OSError:
        return None
    rows = []
    for name, blob in blobs:
        src_w, src_h, dst_w, dst_h, scale, thumb = _fake_resize(blob, RESIZE_LONGEST_EDGE)
        rows.append(
            (name, src_w, src_h, dst_w, dst_h, scale, hashlib.md5(thumb).hexdigest())
        )
    return values_oracle(
        rows,
        ["file_name", "src_width", "src_height", "dst_width", "dst_height", "scale", "thumb_digest"],
        order_by="file_name",
        casts={"scale": "DOUBLE"},
    )


@register("multimodal_resize", oracle=_resize_oracle)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize pipeline (thumbnail generation): binaryFile scan ->
    mapInPandas aspect-preserving resize (stubbed codec; the target-dim
    math and 1->1 schema are real). Completes the decode / feature-extract
    / resize / frame-sample multimodal quartet."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    thumbs = files.mapInPandas(make_thumbnails, schema=RESIZE_SCHEMA)
    return thumbs.orderBy("file_name")


# ---------------------------------------------------------------------------
# Audio: frame-level signal stats over opaque binary blobs (round 4c)
# ---------------------------------------------------------------------------

AUDIO_FRAME = 512  # samples per analysis frame (hop = frame, no overlap)

AUDIO_SCHEMA = (
    "file_name string, frame_idx int, n_samples int, "
    "sum_sq long, peak_abs int, zero_crossings int, rms double"
)


def decode_audio(content: bytes):  # pragma: no cover - stub by design
    """REAL audio decode hook — needs an audio codec (ffmpeg/soundfile)
    not installed in this container. frame_stats() consumes an int16
    sample array however it was produced."""
    raise NotImplementedError("audio codec not available in this environment")


def _fake_samples(content: bytes):
    """Deterministic stand-in for decode_audio: reinterpret the blob's
    bytes as little-endian int16 PCM (dropping a trailing odd byte).
    Codec-free but shape-faithful: a real decoder returns exactly this
    (an int16 array), so the frame analytics below are the REAL part."""
    n = len(content) // 2
    return [
        int.from_bytes(content[2 * i : 2 * i + 2], "little", signed=True)
        for i in range(n)
    ]


def _frame_rows(name: str, samples) -> list[tuple]:
    rows = []
    for f in range(len(samples) // AUDIO_FRAME):
        chunk = samples[f * AUDIO_FRAME : (f + 1) * AUDIO_FRAME]
        ss = sum(x * x for x in chunk)
        zc = sum(
            1
            for a, b in zip(chunk, chunk[1:])
            if (a >= 0) != (b >= 0)
        )
        rms = round((ss / AUDIO_FRAME) ** 0.5, 4)
        rows.append((name, f, AUDIO_FRAME, ss, max(abs(x) for x in chunk), zc, rms))
    return rows


def audio_frame_stats(batches):
    """mapInArrow stage: binaryFile RecordBatches -> frame-stat rows with
    NO pandas materialization — the Arrow-native path a real DSP kernel
    (C/ffmpeg) would consume. All oracle-checked stats are exact int64
    (sum of int16 squares <= 512 * 2^30 fits comfortably), so there is
    no float-summation-order parity risk; rms derives from the same
    integers at the end.

    r14 optimization round (guide-of-record: hand whole batches to
    vectorized native code inside the Python boundary): the framing
    runs as NumPy array ops instead of a per-sample Python loop — the
    r13 --all record read 10.5 s, almost all of it interpreting int16
    arithmetic sample by sample. Parity notes, term by term: the
    '<i2' frombuffer view IS _fake_samples' little-endian signed
    decode; sum_sq/peak/zero_crossings are exact int64 reductions of
    the same integers (samples widen to int64 BEFORE abs, so
    -32768 -> 32768 like Python's abs); rms applies Python round() to
    the identical IEEE sqrt(ss/512) double. _frame_rows remains the
    executable pure-Python spec the golden oracle replays."""
    import numpy as np
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("file_name", pa.string()),
            ("frame_idx", pa.int32()),
            ("n_samples", pa.int32()),
            ("sum_sq", pa.int64()),
            ("peak_abs", pa.int32()),
            ("zero_crossings", pa.int32()),
            ("rms", pa.float64()),
        ]
    )
    for batch in batches:
        paths = batch.column("path").to_pylist()
        blobs = batch.column("content").to_pylist()
        names: list[str] = []
        idxs: list[np.ndarray] = []
        sss: list[np.ndarray] = []
        peaks: list[np.ndarray] = []
        zcs: list[np.ndarray] = []
        for path, blob in zip(paths, blobs):
            blob = bytes(blob)
            n = (len(blob) // 2) * 2
            samples = np.frombuffer(blob[:n], dtype="<i2")
            nframes = len(samples) // AUDIO_FRAME
            if nframes == 0:
                continue
            a = (
                samples[: nframes * AUDIO_FRAME]
                .astype(np.int64)
                .reshape(nframes, AUDIO_FRAME)
            )
            nonneg = a >= 0
            names.extend([path.rsplit("/", 1)[-1]] * nframes)
            idxs.append(np.arange(nframes, dtype=np.int32))
            sss.append((a * a).sum(axis=1))
            peaks.append(np.abs(a).max(axis=1))
            zcs.append((nonneg[:, :-1] != nonneg[:, 1:]).sum(axis=1))
        if names:
            ss = np.concatenate(sss)
            rms = [
                round(float(x), 4) for x in np.sqrt(ss / AUDIO_FRAME)
            ]
            cols = [
                names,
                np.concatenate(idxs),
                [AUDIO_FRAME] * len(names),
                ss,
                np.concatenate(peaks),
                np.concatenate(zcs),
                rms,
            ]
        else:
            cols = [[] for _ in range(7)]
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=t.type) for c, t in zip(cols, out_schema)],
            schema=out_schema,
        )


def _audio_oracle(sf_dir: str) -> str | None:
    """Golden VALUES: pure-Python replay of the same int16 framing over
    the fixture bytes (the multimodal_binary oracle discipline)."""
    from ..goldens import values_oracle

    try:
        blobs = _read_fixture_blobs(sf_dir)
    except OSError:
        return None
    rows = []
    for name, blob in blobs:
        rows.extend(_frame_rows(name, _fake_samples(blob)))
    return values_oracle(
        rows,
        [
            "file_name",
            "frame_idx",
            "n_samples",
            "sum_sq",
            "peak_abs",
            "zero_crossings",
            "rms",
        ],
        order_by="file_name, frame_idx",
        casts={"sum_sq": "BIGINT"},
    )


@register("multimodal_audio_framestats", oracle=_audio_oracle)
def multimodal_audio_framestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame analytics over opaque binary columns: binaryFile scan
    -> mapInArrow framing/stats (stubbed codec, real plumbing) -> one row
    per 512-sample frame with RMS / peak / zero-crossing rate — the
    silence-trim + energy-gate front end of a speech-data pipeline.

    The fourth multimodal eval-type exhibit: binary/image/video use
    mapInPandas; this one uses mapInArrow, the zero-copy batch bridge a
    native DSP kernel consumes (no pandas conversion of megabyte blobs).
    Frames per task = its own blobs' frames — blob bytes never shuffle,
    only fixed-width stat rows move on."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    stats = files.select("path", "content").mapInArrow(
        audio_frame_stats, schema=AUDIO_SCHEMA
    )
    return stats.orderBy("file_name", "frame_idx")


# ---------------------------------------------------------------------------
# Image near-dup: perceptual average-hash + banded Hamming pairing (round 4c)
# ---------------------------------------------------------------------------

#: aHash geometry: 64 sample points -> 64-bit signature; pairs sharing a
#: 16-bit band are verified at Hamming <= AHASH_HAM. At threshold 3 the
#: 4-band blocking is EXACT by pigeonhole: <= 3 differing bits cannot
#: touch all 4 bands, so every qualifying pair shares a clean band.
AHASH_POINTS = 64
AHASH_HAM = 3


def _fake_pixels(content: bytes) -> list[int]:
    """Deterministic stand-in for decode+grayscale+8x8 downsample: 64
    evenly-strided bytes of the blob (a real codec returns exactly this
    shape — 64 luma values — so the hash/banding below is the REAL
    part)."""
    n = len(content)
    if n == 0:
        return [0] * AHASH_POINTS
    stride = max(1, n // AHASH_POINTS)
    return [content[min((i * stride), n - 1)] for i in range(AHASH_POINTS)]


def _ahash(content: bytes) -> int:
    """Average hash: bit i set iff sample i >= mean of samples."""
    px = _fake_pixels(content)
    mean = sum(px) / len(px)
    sig = 0
    for i, v in enumerate(px):
        if v >= mean:
            sig |= 1 << i
    return sig - (1 << 64) if sig >= (1 << 63) else sig  # signed 64


def _reencoded(blob: bytes) -> bytes:
    """Deterministic stand-in for a re-encode of the same media: same
    length, last byte perturbed — a real re-encode (quality change)
    moves a few luma samples; the perceptual hash must still match."""
    if not blob:
        return blob
    return blob[:-1] + bytes([blob[-1] ^ 0xFF])


def _ahash_variants(blobs: list[tuple[str, bytes]]) -> list[tuple[str, int]]:
    """Each file contributes its original AND its re-encoded variant —
    the planted positives the detector must pair (cross-file collisions
    remain possible and are scored identically)."""
    out = []
    for name, blob in blobs:
        out.append((name, _ahash(blob)))
        out.append((name + "#v", _ahash(_reencoded(blob))))
    return out


def _ahash_rows(sf_dir: str) -> list[tuple]:
    blobs = _read_fixture_blobs(sf_dir)
    sigs = _ahash_variants(blobs)
    out = []
    for i, (na, sa) in enumerate(sigs):
        for nb, sb in sigs[i + 1 :]:
            a, b = (na, nb) if na < nb else (nb, na)
            ham = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            shares_band = any(
                ((sa >> (16 * k)) & 0xFFFF) == ((sb >> (16 * k)) & 0xFFFF)
                for k in range(4)
            )
            if shares_band and ham <= AHASH_HAM:
                out.append((a, b, ham))
    return sorted(out)


def _image_dedup_oracle(sf_dir: str) -> str | None:
    from ..goldens import values_oracle

    try:
        rows = _ahash_rows(sf_dir)
    except OSError:
        return None
    return values_oracle(
        rows,
        ["file_a", "file_b", "hamming"],
        order_by="file_a, file_b",
        casts={"hamming": "BIGINT"},
    )


def ahash_batches(batches):
    """mapInArrow: binaryFile batches -> (file_name, ahash) rows — one
    row for the original and one for its re-encoded variant."""
    import pyarrow as pa

    schema = pa.schema([("file_name", pa.string()), ("ahash", pa.int64())])
    for batch in batches:
        paths = batch.column("path").to_pylist()
        blobs = batch.column("content").to_pylist()
        pairs = _ahash_variants(
            [(p.rsplit("/", 1)[-1], bytes(b)) for p, b in zip(paths, blobs)]
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([n for n, _ in pairs]),
                pa.array([s for _, s in pairs], type=pa.int64()),
            ],
            schema=schema,
        )


@register("multimodal_image_dedup", oracle=_image_dedup_oracle)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup: average-hash signatures (stubbed
    decode, real hash/banding) paired by banded Hamming — the image-side
    twin of dedup_simhash, and the standard web-image dedup recipe
    (aHash/pHash + LSH). Every file is hashed twice — original and a
    deterministic re-encode stand-in — so the detector provably fires on
    the planted same-image pairs. Candidates = pairs sharing any 16-bit
    band (EXACT for Hamming <= 3 by pigeonhole: 3 flipped bits cannot
    touch all 4 bands); verify = JVM popcount on the xor.

    Scale shape: signatures stream out of a mapInArrow stage (blob bytes
    never shuffle); the pair join is an equi-join on exploded
    (band_idx, band_value) keys — bounded fan-out per bucket, no
    all-pairs anywhere. Golden oracle replays hash + banding + Hamming
    in pure Python over the same fixture bytes."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    sigs = files.select("path", "content").mapInArrow(
        ahash_batches, schema="file_name string, ahash long"
    )
    keyed = sigs.select(
        "file_name",
        "ahash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("ahash"), 16 * k).bitwiseAND(0xFFFF)
                for k in range(4)
            ])
        ).alias("bi", "bv"),
    )
    k2 = keyed.select(
        F.col("file_name").alias("file_b"),
        F.col("ahash").alias("hash_b"),
        "bi",
        "bv",
    )
    return (
        keyed.join(k2, ["bi", "bv"])
        .where(F.col("file_name") < F.col("file_b"))
        .select(
            F.col("file_name").alias("file_a"),
            "file_b",
            F.bit_count(F.col("ahash").bitwiseXOR(F.col("hash_b"))).cast(
                "bigint"
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= AHASH_HAM)
        .distinct()
    )


SCENECUT_SCHEMA = (
    "file_name string, frame_idx int, frame_ts_ms bigint, frame_mean double"
)

#: Scene boundary when the mean frame intensity jumps by more than this
#: between consecutive sampled frames (real detectors threshold a frame
#: histogram/SSIM delta; the fake decode exposes mean byte value).
SCENECUT_DELTA = 8.0


def _frame_mean(frame: bytes) -> float:
    return (sum(frame) / len(frame)) if frame else 0.0


def frame_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: blob -> one row per sampled frame with its mean
    intensity. Same 1->N fan-out as sample_frames; the blob never leaves
    the executor, only fixed-width (file, idx, ts, mean) rows shuffle."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            blob = bytes(content)
            for idx, ts_ms, frame in _fake_frames(blob):
                rows.append(
                    {
                        "file_name": str(path).rsplit("/", 1)[-1],
                        "frame_idx": idx,
                        "frame_ts_ms": ts_ms,
                        "frame_mean": _frame_mean(frame),
                    }
                )
        yield pd.DataFrame(rows)


def _scene_rows(name: str, blob: bytes) -> list[tuple]:
    """Pure-Python replay of the scenecut pipeline for one blob (golden
    oracle + the logic contract a real codec must reproduce)."""
    import math

    means = [_frame_mean(f) for _, _, f in _fake_frames(blob)]
    out = []
    scene = 1
    for idx, m in enumerate(means):
        cut = idx > 0 and abs(m - means[idx - 1]) > SCENECUT_DELTA
        if cut:
            scene += 1
        out.append(
            (
                name,
                idx,
                idx * FRAME_INTERVAL_MS,
                math.floor(m * 10000) / 10000,
                cut,
                scene,
            )
        )
    return out


def _scenecut_oracle(sf_dir: str) -> str | None:
    """Golden VALUES replay of frame-stat + cut detection (see
    _binary_oracle rationale)."""
    from ..goldens import values_oracle

    try:
        blobs = _read_fixture_blobs(sf_dir)
    except OSError:
        return None
    rows = []
    for name, blob in blobs:
        rows.extend(_scene_rows(name, blob))
    return values_oracle(
        rows,
        [
            "file_name",
            "frame_idx",
            "frame_ts_ms",
            "frame_mean",
            "is_cut",
            "scene_id",
        ],
        order_by="file_name, frame_idx",
        casts={
            "frame_ts_ms": "BIGINT",
            "frame_mean": "DOUBLE",
            "scene_id": "INTEGER",
        },
    )


@register("multimodal_video_scenecut", oracle=_scenecut_oracle)
def multimodal_video_scenecut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene segmentation: binaryFile scan -> mapInPandas frame
    stats (stubbed codec, real Arrow plumbing) -> WINDOW-side cut
    detection and scene numbering. The detector itself is deliberately
    in DataFrame land, not in the UDF: consecutive-frame deltas are a
    lag() over (file, frame_idx) and scene ids are a running sum of cut
    flags — so the Python stage stays an embarrassingly parallel 1->N
    map, and the sequential-looking segmentation distributes as one
    bounded window per file (the win_sessionize boundary-flag shape).

    At 100 TB of video the frame-stat rows are ~10 bytes/frame while
    the blobs never shuffle; a real detector swaps _frame_mean for a
    histogram distance inside the same mapInPandas signature. Mean is
    floored at 4 dp: byte-means are k/256 rationals, which hit exact
    4-dp round-half ties on 1/16 of frames (HALF_UP Spark vs HALF_EVEN
    Python would diverge)."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    stats = files.mapInPandas(frame_stats, schema=SCENECUT_SCHEMA)
    w = Window.partitionBy("file_name").orderBy("frame_idx")
    prev = F.lag("frame_mean").over(w)
    is_cut = prev.isNotNull() & (
        F.abs(F.col("frame_mean") - prev) > SCENECUT_DELTA
    )
    wc = Window.partitionBy("file_name").orderBy("frame_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        stats.withColumn("is_cut", is_cut)
        .withColumn(
            "scene_id",
            (F.lit(1) + F.sum(F.col("is_cut").cast("int")).over(wc)).cast(
                "int"
            ),
        )
        .select(
            "file_name",
            "frame_idx",
            "frame_ts_ms",
            (F.floor(F.col("frame_mean") * 10000) / 10000).alias("frame_mean"),
            "is_cut",
            "scene_id",
        )
        .orderBy("file_name", "frame_idx")
    )


#: VAD energy gate: a frame is "speech" when its mean square power
#: (sum_sq / n_samples) clears this. Integer comparison against
#: sum_sq >= VAD_MEAN_SQ * AUDIO_FRAME — exact in both engines. The
#: constant sits at the fixture frames' median so segmentation
#: exercises both states.
VAD_MEAN_SQ = 300_000_000


def _vad_rows(name: str, samples) -> list[tuple]:
    """Pure-Python replay of the VAD segmentation for one blob: energy
    gate per frame, then run-length merge of consecutive active frames."""
    segs = []
    cur = None
    for r in _frame_rows(name, samples):
        frame_idx, sum_sq = r[1], r[3]
        active = sum_sq >= VAD_MEAN_SQ * AUDIO_FRAME
        if not active:
            continue
        if cur is not None and frame_idx == cur[2] + 1:
            cur = (cur[0], cur[1], frame_idx, cur[3] + 1, cur[4] + sum_sq)
        else:
            if cur is not None:
                segs.append(cur)
            cur = (name, frame_idx, frame_idx, 1, sum_sq)
    if cur is not None:
        segs.append(cur)
    return [
        (name, i + 1, s[1], s[2], s[3], s[4])
        for i, s in enumerate(segs)
    ]


def _vad_oracle(sf_dir: str) -> str | None:
    """Golden VALUES replay of energy gate + run-length segmentation."""
    from ..goldens import values_oracle

    try:
        blobs = _read_fixture_blobs(sf_dir)
    except OSError:
        return None
    rows = []
    for name, blob in blobs:
        rows.extend(_vad_rows(name, _fake_samples(blob)))
    return values_oracle(
        rows,
        [
            "file_name",
            "seg_id",
            "start_frame",
            "end_frame",
            "n_frames",
            "seg_sum_sq",
        ],
        order_by="file_name, seg_id",
        casts={
            "seg_id": "INTEGER",
            "n_frames": "INTEGER",
            "seg_sum_sq": "BIGINT",
        },
    )


@register("multimodal_audio_vad", oracle=_vad_oracle)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segments over opaque audio blobs: the mapInArrow
    frame stats (multimodal_audio_framestats' stage, unchanged) feed an
    integer energy gate and a gap-islands merge — consecutive active
    frames coalesce into segments with exact int64 energy totals. The
    audio twin of multimodal_video_scenecut, closing the segmentation
    pair: scene cuts SPLIT on change, VAD MERGES on persistence, and
    both are the win_sessionize boundary-flag recursion over UDF-stage
    output rather than logic buried in Python.

    Plan: blobs never shuffle (stat rows only); active-frame filter
    happens BEFORE the window, so the per-file sort handles only speech
    frames; a run boundary is frame_idx > lag(frame_idx) + 1 and
    segment ids are the running boundary sum. Everything compared or
    summed is an integer (the audio family's no-float-parity-risk
    discipline), so the golden replay is exact."""
    files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    stats = files.mapInArrow(audio_frame_stats, schema=AUDIO_SCHEMA)
    active = stats.where(
        F.col("sum_sq")
        >= F.lit(VAD_MEAN_SQ).cast("long") * F.col("n_samples").cast("long")
    )
    w = Window.partitionBy("file_name").orderBy("frame_idx")
    prev = F.lag("frame_idx").over(w)
    flagged = active.withColumn(
        "new_seg",
        F.when(prev.isNull() | (F.col("frame_idx") > prev + 1), 1).otherwise(0),
    )
    wc = Window.partitionBy("file_name").orderBy("frame_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    segged = flagged.withColumn(
        "seg_id", F.sum("new_seg").over(wc).cast("int")
    )
    return (
        segged.groupBy("file_name", "seg_id")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.max("frame_idx").alias("end_frame"),
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("sum_sq").alias("seg_sum_sq"),
        )
        .orderBy("file_name", "seg_id")
    )
