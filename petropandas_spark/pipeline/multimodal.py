"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with Arrow-batched decode/resize/feature/frame plumbing.

The decode is REAL for the formats a bare container can handle
(:func:`decode_image`: binary PPM P6 and 24-bit BMP, pure NumPy), with a
matching :func:`encode_ppm` and a NumPy nearest-neighbor
:func:`resize_images`; every other format raises a documented
``NotImplementedError`` — plug PIL/libvips in ``decode_image`` and the
rest of the pipeline (schema, Arrow batching, one-to-many frame
explode) is unchanged.

Schema convention::

    content  BINARY      -- the raw object bytes
    media    STRUCT<kind STRING, mime STRING, width INT, height INT,
                    duration_ms BIGINT>

At 100 TB the binary column stays columnar in parquet; decode stages are
narrow (no shuffle), sized by ``spark.sql.files.maxPartitionBytes``, and
feature outputs are small fixed-width vectors.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

MEDIA_SCHEMA = (
    "kind STRING, mime STRING, width INT, height INT, duration_ms BIGINT"
)


# -- Python-stage fusion (r15, guide §4) ------------------------------------
#
# Every media chain starts "content producer → content consumer": a
# synthesize_fixture_* stage (standing in for the decode/transcode stage
# a production pipeline runs) feeding a fingerprint stage.  Spelled as
# two mapInPandas calls that is TWO Python workers per task — the
# content bytes cross JVM→Python→JVM→Python, and a 32-task chain keeps
# a 64-worker complement alive (the whole complement is re-forked
# whenever Spark's hard-coded one-minute idle reaper has emptied the
# pool — r14 §4; the re-fork's copy-on-write fault storm scales with
# worker COUNT).  The producer tags its result with its own batch
# transform; a consumer receiving that UNTOUCHED result composes the
# two iterator transforms into ONE mapInPandas stage — content bytes
# never leave the Python worker, half the workers, identical rows (the
# composition is exactly what the two stages computed).  Any operation
# between producer and consumer (checkpoint, filter, select) drops the
# tag and the two-stage spelling runs unchanged.

def _tag_content_fusion(out: DataFrame, src: DataFrame, run,
                        id_col: str) -> DataFrame:
    """Mark ``out = src.mapInPandas(run)`` as a fusable content producer
    (``run`` yields ``(id_col, content)`` batches)."""
    out._petro_content_fusion = (src, run, id_col)
    return out


def _content_map(df: DataFrame, id_col: str, content_col: str, run,
                 schema: str) -> DataFrame:
    """``df.select(id, content).mapInPandas(run, schema)``, fused with
    ``df``'s producer stage when ``df`` is a tagged, untouched content
    producer output."""
    fusion = getattr(df, "_petro_content_fusion", None)
    if fusion is not None and content_col == "content":
        src, produce, synth_id = fusion
        if synth_id == id_col:
            def fused(batches, _produce=produce, _consume=run):
                return _consume(_produce(batches))
            return src.mapInPandas(fused, schema=schema)
    return df.select(id_col, content_col).mapInPandas(run, schema=schema)


def _fingerprint_stage(df: DataFrame, id_col: str, content_col: str,
                       on_error: str, cols: list[tuple[str, str]],
                       rows_of) -> DataFrame:
    """The one Arrow stage behind every media fingerprint tier: per
    object, ``rows_of(blob)`` returns the list of its rows, tuples over
    ``cols`` (``(name, "INT" | "BIGINT")``); output ``(id, *cols)``.

    ``on_error``: ``"raise"`` (default — a corrupt blob fails the job
    loudly) or ``"quarantine"`` — the JSONL-ingest contract for a
    production landing stream: an object whose ``rows_of`` raises
    becomes exactly ONE row (INT columns −1, BIGINT columns NULL, the
    exception text in ``decode_error``), so the caller splits good/bad
    with one filter instead of losing the batch to one bad object, and
    nothing is silently dropped.  An object's rows are all built before
    any is emitted, so a failure midway never leaks partial rows; the
    good slice is identical under either mode."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', "
                         f"got {on_error!r}")
    quarantine = on_error == "quarantine"
    schema = ", ".join([f"{id_col} BIGINT"] + [f"{c} {t}" for c, t in cols])
    if quarantine:
        schema += ", decode_error STRING"
    bad = tuple(-1 if t == "INT" else None for _, t in cols)

    def run(batches):
        for pdf in batches:
            ids, rows, errs = [], [], []
            for i, blob in zip(pdf[id_col], pdf[content_col]):
                try:
                    got = rows_of(bytes(blob) if blob is not None else b"")
                    err = None
                except Exception as e:  # noqa: BLE001 — routed, not eaten
                    if not quarantine:
                        raise
                    got, err = [bad], f"{type(e).__name__}: {e}"
                ids += [i] * len(got)
                rows += got
                errs += [err] * len(got)
            out = {id_col: ids}
            for k, (c, t) in enumerate(cols):
                vals = [r[k] for r in rows]
                out[c] = pd.array(vals, dtype="Int64") if t == "BIGINT" \
                    else vals
            if quarantine:
                out["decode_error"] = errs
            yield pd.DataFrame(out)

    return _content_map(df, id_col, content_col, run, schema)


def attach_media_metadata(df: DataFrame, content_col: str = "content",
                          kind: str = "image",
                          mime: str = "application/octet-stream") -> DataFrame:
    """Wrap a binary column with the typed metadata struct."""
    return df.withColumn(
        "media",
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ),
    )


def decode_image(blob: bytes) -> np.ndarray:
    """REAL pure-Python image decode for the formats this container can
    handle without external libraries:

      * Netpbm P6 (binary PPM), maxval 255 — the standard uncompressed
        interchange format;
      * Windows BMP, BITMAPINFOHEADER, 24-bit uncompressed (bottom-up).

    Returns float32 pixels in [0, 1], shape (H, W, 3).  Any other format
    raises ``NotImplementedError`` — the documented contract: swap in
    PIL/libvips where available; nothing silently fakes a decode.
    """
    if blob[:2] == b"P6":
        # header = "P6" <ws> width <ws> height <ws> maxval <single ws>
        parts: list[bytes] = []
        i = 2
        while len(parts) < 3:
            while i < len(blob) and blob[i : i + 1].isspace():
                i += 1
            if blob[i : i + 1] == b"#":  # comment line
                while i < len(blob) and blob[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(blob) and not blob[j : j + 1].isspace():
                j += 1
            parts.append(blob[i:j])
            i = j
        i += 1  # the single whitespace after maxval
        w, h, maxval = (int(p) for p in parts)
        px = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=i)
        return px.reshape(h, w, 3).astype(np.float32) / float(maxval)
    if blob[:2] == b"BM":
        import struct

        data_off = struct.unpack_from("<I", blob, 10)[0]
        hdr_size, w, h = struct.unpack_from("<Iii", blob, 14)
        planes, bpp = struct.unpack_from("<HH", blob, 26)
        compression = struct.unpack_from("<I", blob, 30)[0]
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"BMP decode supports 24-bit uncompressed only (bpp={bpp})"
            )
        row_bytes = (w * 3 + 3) & ~3  # 4-byte-aligned rows
        rows = []
        for r in range(abs(h)):
            off = data_off + r * row_bytes
            row = np.frombuffer(blob, dtype=np.uint8, count=w * 3, offset=off)
            rows.append(row.reshape(w, 3)[:, ::-1])  # BGR → RGB
        img = np.stack(rows)
        if h > 0:  # bottom-up storage
            img = img[::-1]
        return img.astype(np.float32) / 255.0
    raise NotImplementedError(
        "unsupported image format (PPM P6 and 24-bit BMP are decodable "
        "in-container; plug PIL/libvips for the rest)"
    )


def decode_and_featurize(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode → fixed-width feature vector (mean/std/histogram).

    Decodes through :func:`decode_image` and propagates
    ``NotImplementedError`` for undecodable payloads.

    Output schema: id, n_bytes, feat array<double> (8 summary features).
    """
    schema = f"{id_col} BIGINT, n_bytes BIGINT, feat ARRAY<DOUBLE>"

    def run(batches):
        for pdf in batches:
            ids, sizes, feats = [], [], []
            for i, blob in zip(pdf[id_col], pdf[content_col]):
                raw = bytes(blob) if blob is not None else b""
                px = decode_image(raw).ravel()
                hist, _ = np.histogram(px, bins=4, range=(0.0, 1.0))
                feats.append(
                    [float(px.mean()), float(px.std()),
                     float(px.min()), float(px.max())]
                    + (hist / max(len(px), 1)).astype(float).tolist()
                )
                ids.append(i)
                sizes.append(len(raw))
            yield pd.DataFrame({id_col: ids, "n_bytes": sizes, "feat": feats})

    return df.mapInPandas(run, schema=schema)


def media_byte_stats(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """Byte-level stats over an opaque binary column through the REAL
    Arrow-batched mapInPandas path (the same plumbing a decode stage
    uses): size + content digest per object.  Narrow, shuffle-free; at
    100 TB this is a linear scan bounded by ``files.maxPartitionBytes``."""
    schema = f"{id_col} BIGINT, n_bytes BIGINT, content_md5 STRING"

    def run(batches):
        for pdf in batches:
            ids, sizes, digests = [], [], []
            for i, blob in zip(pdf[id_col], pdf[content_col]):
                raw = bytes(blob) if blob is not None else b""
                ids.append(i)
                sizes.append(len(raw))
                digests.append(hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": sizes, "content_md5": digests}
            )

    return _content_map(df, id_col, content_col, run, schema)


def luma_grid(img: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Integer luminance grid for perceptual hashing: nearest-neighbor
    sample the decoded float image down to (rows, cols) — the same
    ``floor((i+0.5)·src/dst)`` index grid :func:`resize_images` uses —
    then score each sampled pixel with the integer ITU-R BT.601 weights
    ``299·R + 587·G + 114·B`` over the recovered 0-255 channel values.
    ALL integer math after the sample: the decode's ``/255`` round-trips
    exactly under ``rint(px·255)`` (error ≪ 0.5 ulp), so two engines
    computing from the same source pixels agree bit-for-bit — the
    property the DuckDB oracle relies on."""
    src_h, src_w, _ = img.shape
    ri = np.minimum(((np.arange(rows) + 0.5) * src_h / rows).astype(int),
                    src_h - 1)
    ci = np.minimum(((np.arange(cols) + 0.5) * src_w / cols).astype(int),
                    src_w - 1)
    px = np.rint(img[ri[:, None], ci[None, :]] * 255.0).astype(np.int64)
    return px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114


def _pack_bits64(bits) -> int:
    """64 bools (bit 0 first) → signed 64-bit integer, bit 63 as the
    sign bit — the same signed-long convention as dedup.simhash."""
    h = 0
    for b, bit in enumerate(bits):
        if bit:
            h |= 1 << b
    return h - (1 << 64) if h >= 1 << 63 else h


def ahash64(img: np.ndarray) -> int:
    """Average hash: 8×8 luminance grid, bit (r,c) set iff the cell is
    brighter than the grid mean — compared in integer form
    (``64·g > Σg``), so no division can flip a boundary bit."""
    g = luma_grid(img, 8, 8)
    total = int(g.sum())
    return _pack_bits64((64 * g.ravel() > total).tolist())


def dhash64(img: np.ndarray) -> int:
    """Difference hash: 8×9 luminance grid, bit (r,c) set iff cell
    (r,c) is brighter than its right neighbor (r,c+1) — 64 pure integer
    comparisons, the standard gradient-sign perceptual hash."""
    g = luma_grid(img, 8, 9)
    return _pack_bits64((g[:, :-1] > g[:, 1:]).ravel().tolist())


def phash_images(df: DataFrame, content_col: str = "content",
                 id_col: str = "doc_id",
                 on_error: str = "raise") -> DataFrame:
    """Perceptual hashes for near-duplicate image detection: one narrow
    Arrow-batched mapInPandas stage runs the REAL decode
    (:func:`decode_image`) → :func:`ahash64` + :func:`dhash64` per
    image.  Output ``(id, ahash BIGINT, dhash BIGINT)`` — 8 bytes per
    image per hash, so at 100 TB the signature table is a vanishing
    fraction of the corpus and every downstream near-dup step works on
    integers.  Pair generation goes through the SimHash Hamming-blocked
    machinery (``dedup.hamming_neardup_pairs``): never all-pairs.

    ``on_error='quarantine'`` routes an undecodable image to one
    NULL-hash row with ``decode_error`` (:func:`_fingerprint_stage`)."""
    def rows_of(blob):
        img = decode_image(blob)
        return [(ahash64(img), dhash64(img))]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("ahash", "BIGINT"), ("dhash", "BIGINT")],
                              rows_of)


# -- deterministic doc-id-derived fixture images ----------------------------
#
# The container has no image corpus and no imaging libraries, so the
# registered pHash queries synthesize their inputs: a 16×16 RGB PPM per
# document whose pixels are a closed-form integer function of the
# doc_id — real bytes through the real encoder, decoder, and hash path,
# while staying exactly re-derivable in the DuckDB oracle's SQL.
# Family structure plants the near-dup signal: doc_id DIV 3 picks the
# base image (so consecutive triples share one), doc_id % 3 picks the
# variant — 0 = pristine, 1 = one sampled pixel brightened (≤2 dHash
# bits flip → within the Hamming gate), 2 = a global gradient overlay
# (far beyond the gate).

FIXTURE_IMG_SIZE = 16


def fixture_pixel_values(doc_id: int) -> np.ndarray:
    """(16, 16, 3) int64 channel values in [0, 251) for the fixture
    image of ``doc_id`` — the single source of truth the PPM synth,
    the pytest fixtures, and the DuckDB oracle SQL all express."""
    n = FIXTURE_IMG_SIZE
    r = np.arange(n)[:, None, None]
    c = np.arange(n)[None, :, None]
    ch = np.arange(3)[None, None, :]
    base = doc_id // 3
    # base-dependent row/col coefficients so gradient SIGNS differ
    # across families: a base-independent gradient would leave most
    # families sharing one dHash (a uniform brightness shift flips
    # signs only at wrap boundaries), turning the planted near-dup
    # structure into accidental giant clusters — measured 72-doc
    # clusters at sf0.1 vs max 7 with the mixed coefficients
    # the r·c CROSS term (base-mixed, r14) makes the column gradient
    # row-DEPENDENT: with row/col slopes alone the dHash sign-pattern
    # space is ~(89·101) and saturates at corpus scale — measured max
    # same-hash cluster 50 at 50k contiguous ids (the ×10 sweep tier),
    # which manufactured a 44–58× H≤3 pair blowup the operators then
    # absorbed.  With the cross term: max cluster 3 at 50k / 4 at 150k,
    # planted pairs only at H≤3, family structure intact (variant 1
    # within H≤2 of base, variant 2 ≥ 20 bits out).
    px = (base * 7919 + r * (131 + base % 89)
          + c * (17 + base % 101) + r * c * (7 + base % 13) + ch * 59)
    m = doc_id % 3
    if m == 1:
        px = px + np.where((r == 2 * (doc_id % 8) + 1) & (c == 9), 101, 0)
    elif m == 2:
        px = px + ((r * 31 + c * 7) % 11) * 13
    return px % 251


def synthesize_fixture_images(df: DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: id → deterministic 16×16 fixture PPM bytes (see
    :func:`fixture_pixel_values`), through the real :func:`encode_ppm`.
    Output ``(id, content BINARY)`` — the input shape every media
    operator takes.

    Id input ``_spread`` for scan parallelism, as in
    :func:`synthesize_fixture_videos` (no-op at real scale)."""
    from petropandas_spark.pipeline.dedup import _spread

    schema = f"{id_col} BIGINT, content BINARY"

    def run(batches):
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                arr = fixture_pixel_values(int(i)).astype(np.float32) / 255.0
                ids.append(i)
                blobs.append(encode_ppm(arr))
            yield pd.DataFrame({id_col: ids, "content": blobs})

    src = _spread(df.select(id_col), id_col)
    return _tag_content_fusion(
        src.mapInPandas(run, schema=schema), src, run, id_col)


def encode_ppm(img: np.ndarray) -> bytes:
    """Encode float32 [0,1] (H, W, 3) pixels as binary PPM (P6) — the
    inverse of the P6 branch of :func:`decode_image`."""
    h, w, _ = img.shape
    px = np.clip(np.rint(img * 255.0), 0, 255).astype(np.uint8)
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def resize_images(df: DataFrame, width: int, height: int,
                  content_col: str = "content",
                  id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode → nearest-neighbor resize → PPM re-encode.

    The resize itself is pure NumPy integer index sampling (no external
    imaging library): output pixel (r, c) takes source pixel
    (floor((r+.5)·H/h'), floor((c+.5)·W/w')) — the standard
    nearest-neighbor grid.  Output rows carry the re-encoded binary plus
    the realized dimensions, so a downstream stage can chain decode →
    resize → featurize entirely in narrow Arrow stages (no shuffle).
    """
    schema = (
        f"{id_col} BIGINT, width INT, height INT, resized BINARY"
    )

    def run(batches):
        for pdf in batches:
            ids, ws, hs, outs = [], [], [], []
            for i, blob in zip(pdf[id_col], pdf[content_col]):
                img = decode_image(bytes(blob) if blob is not None else b"")
                src_h, src_w, _ = img.shape
                rows = np.minimum(
                    ((np.arange(height) + 0.5) * src_h / height).astype(int),
                    src_h - 1,
                )
                cols = np.minimum(
                    ((np.arange(width) + 0.5) * src_w / width).astype(int),
                    src_w - 1,
                )
                out = img[rows[:, None], cols[None, :]]
                ids.append(i)
                ws.append(width)
                hs.append(height)
                outs.append(encode_ppm(out))
            yield pd.DataFrame(
                {id_col: ids, "width": ws, "height": hs, "resized": outs}
            )

    return _content_map(df, id_col, content_col, run, schema)


def sample_frames(df: DataFrame, content_col: str = "content",
                  id_col: str = "doc_id", n_frames: int = 4) -> DataFrame:
    """STUB video frame sampling: emits n_frames rows per input with a
    deterministic per-frame byte slice — exercises the explode-shaped
    (one-to-many) mapInPandas contract a real ffmpeg stage would use."""
    schema = f"{id_col} BIGINT, frame_idx INT, frame_bytes BINARY"

    def run(batches):
        for pdf in batches:
            out_id, out_fi, out_fb = [], [], []
            for i, blob in zip(pdf[id_col], pdf[content_col]):
                raw = bytes(blob) if blob is not None else b""
                step = max(len(raw) // n_frames, 1)
                for fi in range(n_frames):
                    out_id.append(i)
                    out_fi.append(fi)
                    out_fb.append(raw[fi * step:(fi + 1) * step])
            yield pd.DataFrame(
                {id_col: out_id, "frame_idx": out_fi, "frame_bytes": out_fb}
            )

    return df.mapInPandas(run, schema=schema)


# -- video: REAL multi-frame container (concatenated P6) -------------------
#
# The honest no-codec video format this container can actually parse:
# P6 frames laid end to end (the PPM analog of MJPEG — each frame is
# self-delimiting through its own header).  Everything below is real
# byte parsing; swap decode_video_frames for an ffmpeg/pyav reader and
# the fingerprint/pair machinery is unchanged.


def _ppm_frame_extent(blob: bytes, offset: int) -> tuple[int, int, int]:
    """Parse one P6 header at ``offset``; return (frame_end_offset,
    width, height).  Raises on anything that is not a P6 frame."""
    if blob[offset:offset + 2] != b"P6":
        raise NotImplementedError(
            f"expected P6 frame at offset {offset} "
            f"(got {blob[offset:offset + 2]!r})")
    parts: list[bytes] = []
    i = offset + 2
    while len(parts) < 3:
        while i < len(blob) and blob[i:i + 1].isspace():
            i += 1
        if blob[i:i + 1] == b"#":
            while i < len(blob) and blob[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(blob) and not blob[j:j + 1].isspace():
            j += 1
        parts.append(blob[i:j])
        i = j
    i += 1  # the single whitespace after maxval
    w, h, _maxval = (int(p) for p in parts)
    return i + w * h * 3, w, h


def encode_ppm_video(frames: list[np.ndarray]) -> bytes:
    """Concatenate frames (each float [0,1] (H, W, 3)) as back-to-back
    P6 — the inverse of :func:`decode_video_frames`."""
    return b"".join(encode_ppm(f) for f in frames)


def decode_video_frames(blob: bytes) -> list[np.ndarray]:
    """REAL container parse: walk the concatenated P6 stream frame by
    frame (each header declares its own extent) and decode each frame
    through :func:`decode_image`.  A truncated or foreign byte stream
    raises — nothing silently fakes a parse."""
    frames: list[np.ndarray] = []
    off = 0
    while off < len(blob):
        end, _w, _h = _ppm_frame_extent(blob, off)
        if end > len(blob):
            raise NotImplementedError(
                f"truncated frame at offset {off} "
                f"(needs {end}, have {len(blob)})")
        frames.append(decode_image(blob[off:end]))
        off = end
    return frames


def _video_frames(blob: bytes) -> list[np.ndarray]:
    """:func:`decode_video_frames`, refusing a zero-frame stream (no
    frame to fingerprint is a decode failure, not an empty result)."""
    frames = decode_video_frames(blob)
    if not frames:
        raise NotImplementedError("zero-frame stream")
    return frames


def _sample_picks(nf: int, n: int) -> list[int]:
    """Frame indices of the fixed-count temporal sample:
    ``floor((k+0.5)·nf/n)`` for slot k — the temporal analog of the
    spatial nearest-neighbor grid."""
    return [min(int((k + 0.5) * nf / n), nf - 1) for k in range(n)]


def _shot_anchors(frames: list[np.ndarray], min_cut: int) -> list[int]:
    """Hard-cut anchors: frame i iff the 8×8 luminance-grid Σ|Δ| from
    frame i−1 exceeds ``min_cut``; the middle frame when no cut."""
    grids = [luma_grid(f, 8, 8) for f in frames]
    return [i for i in range(1, len(grids))
            if int(np.abs(grids[i] - grids[i - 1]).sum()) > min_cut] \
        or [len(frames) // 2]


def video_fingerprints(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id", n_frames: int = 4,
                       on_error: str = "raise") -> DataFrame:
    """Per-video frame fingerprints in ONE narrow Arrow stage: parse
    the container, nearest-neighbor-sample ``n_frames`` frames
    (``floor((i+0.5)·F/n)`` — the temporal analog of the spatial grid),
    dHash each sampled frame.  Output one row per sampled frame:
    ``(id, frame_idx, fhash BIGINT)`` — near-dup videos are pairs
    sharing ≥ k frame hashes (:func:`video_neardup_pairs`), the
    shot-level matching a dedup pipeline runs when whole-file hashes
    are defeated by trims and re-muxes.  ``on_error='quarantine'``
    routes a bad object to one NULL-hash row (frame_idx −1) with
    ``decode_error`` (:func:`_fingerprint_stage`)."""
    def rows_of(blob):
        frames = _video_frames(blob)
        return [(k, dhash64(frames[p]))
                for k, p in enumerate(_sample_picks(len(frames), n_frames))]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("frame_idx", "INT"), ("fhash", "BIGINT")],
                              rows_of)


def video_fingerprints_shots(df: DataFrame, content_col: str = "content",
                             id_col: str = "doc_id",
                             min_cut: int = 1_000_000,
                             on_error: str = "raise") -> DataFrame:
    """SHOT-ANCHORED video fingerprints — the trim-robust alternative to
    :func:`video_fingerprints`'s fixed-count temporal sampling.

    Fixed-count sampling has the same time-offset failure the audio
    framing has (``tools/video_recall.py``: a head-trim shifts every
    sampled position, so the sampled hashes change even though the
    content matched).  Shot anchors are CONTENT-LOCKED instead: frame i
    is an anchor iff the integer 8×8-luminance-grid difference from
    frame i−1 exceeds ``min_cut`` (Σ|Δ| over the 64 BT.601 cells — the
    standard hard-cut detector), so trimming or prepending frames moves
    anchor INDICES but not anchor CONTENT, and the anchor dHashes are
    exactly the shot-boundary frames both versions share.  A video with
    no detected cut (single shot) falls back to its middle frame —
    within one shot the frames are near-identical, so the middle
    frame's dHash is itself trim-stable.

    One Arrow stage (parse container → grid-diff scan → dHash anchors);
    output ``(id, anchor_idx, fhash)`` rows feed the SAME pair/
    incremental/occupancy machinery as the sampled tier
    (:func:`video_neardup_pairs` et al. take any (id, fhash) rows).
    ``on_error='quarantine'`` as in :func:`_fingerprint_stage`
    (anchor_idx −1)."""
    def rows_of(blob):
        frames = _video_frames(blob)
        return [(a, dhash64(frames[a]))
                for a in _shot_anchors(frames, min_cut)]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("anchor_idx", "INT"), ("fhash", "BIGINT")],
                              rows_of)


#: stop-hash document-frequency cap for the video pair tiers: a frame
#: hash appearing in more videos than this carries no matching signal —
#: real video corpora are DOMINATED by degenerate frame hashes (a
#: black / fade / title-card frame is a uniform image whose dHash is
#: one constant shared by a large fraction of ALL videos), and without
#: a cap that one hash value is an O(V)-row join bucket emitting O(V²)
#: pairs.  10 000 shared-frame videos ≫ any real near-dup family and
#: ≪ a degenerate class at corpus scale.
DEFAULT_VIDEO_STOP_HASH_DF = 10_000


def _video_hashes(new_sigs: DataFrame, id_col: str,
                  max_hash_df: int | None = None,
                  store_sigs: DataFrame | None = None
                  ) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """Distinct non-NULL ``(id, fhash)`` rows — the head of every video
    tier — for a batch, for the settled store and for their union, with
    the stop-hash cap applied when ``max_hash_df`` is set.  The cap's
    document frequency is GLOBAL (over store ∪ batch), so an
    incremental pass drops exactly the hashes the full recompute drops,
    and the dropped set is exactly what :func:`video_stop_hashes`
    names.  Returns ``(batch, store, all)``; without a store, ``store``
    is ``None`` and ``all`` is the batch."""
    def rows(s: DataFrame) -> DataFrame:
        return s.select(id_col, "fhash") \
            .where(F.col("fhash").isNotNull()).distinct()

    newd = rows(new_sigs)
    stored = None if store_sigs is None else rows(store_sigs)
    alld = newd if stored is None else newd.unionByName(stored).distinct()
    if max_hash_df is None:
        return newd, stored, alld
    # the stop-hash set is operator-sized by construction (only
    # degenerate hashes exceed the cap); the anti-join broadcasts
    hot = F.broadcast(
        video_stop_hashes(alld, id_col, max_hash_df).select("fhash"))

    def cap(d: DataFrame | None) -> DataFrame | None:
        return None if d is None else d.join(hot, "fhash", "anti")

    return cap(newd), cap(stored), cap(alld)


def video_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                          max_hash_df: int | None =
                          DEFAULT_VIDEO_STOP_HASH_DF,
                          max_bucket: int = 10_000) -> DataFrame:
    """One ``(a, b)`` row per frame hash two videos share — the
    candidate stage of :func:`video_neardup_pairs`, exposed so tests
    and observability can gate the pre-aggregation fan-out.

    Guarded on both axes of hot-hash skew: the per-hash buckets route
    through :func:`petropandas_spark.pipeline.dedup._bucket_pairs_any`
    — ONE shuffle on the 8-byte hash, in-place pair explosion,
    chunk-grid distribution for any bucket past ``max_bucket`` — and
    hashes whose document frequency exceeds ``max_hash_df`` are
    dropped entirely (the stop-hash cap; here the bucket size IS the
    df, so the check is free and the rows need no
    :func:`_video_hashes` pass: its distinct and anti-join measured
    slower on ``media_video_neardups``).  ``max_hash_df=None``
    disables the cap; the chunk-grid guard is unconditional."""
    from petropandas_spark.pipeline.dedup import _bucket_pairs_any

    d = sigs.select(id_col, "fhash").where(F.col("fhash").isNotNull())
    keyed = d.select(F.col("fhash"), F.col(id_col).alias("v"))
    return _bucket_pairs_any(keyed, "v", ["fhash"], max_bucket,
                             max_occupancy=max_hash_df)


def video_stop_hashes(sigs: DataFrame, id_col: str = "doc_id",
                      max_hash_df: int = DEFAULT_VIDEO_STOP_HASH_DF
                      ) -> DataFrame:
    """What the stop-hash cap REMOVES — ``(fhash, df)`` for every frame
    hash whose document frequency exceeds ``max_hash_df`` (no silent
    caps: the pair tiers drop exactly these hashes before the
    explosion, this query names them).  On a real corpus the rows are
    the black/fade/title-card classes; an unexpected entry is a decoder
    bug or a fixture-aliasing problem.  One map-side-combinable
    aggregate over (id, fhash) rows — run it alongside
    :func:`video_hash_df_histogram` when sizing the cap."""
    return (
        _video_hashes(sigs, id_col)[0]
        .groupBy("fhash").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > int(max_hash_df))
    )


def video_hash_df_histogram(sigs: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """Observability for sizing ``max_hash_df``: histogram of frame-hash
    document frequencies — ``(df, n_hashes)`` — the video twin of
    ``dedup.hamming_block_occupancy``.  The tail is the candidate
    stop-hash mass (in-bucket pair fan-out is quadratic in df); a heavy
    tail at one df value means a planted/degenerate frame class.  Two
    map-side-combinable groupBys, no pair explosion."""
    # every hash has df ≥ 1, so the stop set at cap 0 is every hash
    return video_stop_hashes(sigs, id_col, 0).groupBy("df").agg(
        F.count(F.lit(1)).alias("n_hashes"))


def video_neardup_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        min_shared: int = 2,
                        max_hash_df: int | None =
                        DEFAULT_VIDEO_STOP_HASH_DF,
                        max_bucket: int = 10_000) -> DataFrame:
    """Near-dup video pairs: videos sharing at least ``min_shared``
    DISTINCT sampled-frame hashes (each with corpus document frequency
    ≤ ``max_hash_df`` — degenerate black/fade/title frame hashes are
    stop-worded out, see :data:`DEFAULT_VIDEO_STOP_HASH_DF`).  One
    shuffle on the 8-byte hash with in-bucket pair explosion and the
    chunk-grid hot-bucket guard (via ``_bucket_pairs_any`` — the same
    machinery as every other pair tier), one partial-agg count.  The
    frame hash is a dHash, so re-encoded/brightness-shifted frames
    still meet.  The input is expected barriered/cached by the caller
    if it is an expensive derivation (the registry fn
    localCheckpoints).

    The cap is SILENT in the pair output by design (warning from inside
    the operator would force an extra action per call); what it removes
    is first-class observable — run :func:`video_stop_hashes` (the
    dropped ``(fhash, df)`` rows) / :func:`video_hash_df_histogram`
    alongside, as ``examples/media_curation.py`` step 7 does.  Callers
    that need unbounded semantics pass ``max_hash_df=None``
    explicitly."""
    return (
        video_candidate_pairs(sigs, id_col, max_hash_df, max_bucket)
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def _video_fuzzy_matches(new_sigs: DataFrame, id_col: str,
                         max_hamming: int, max_hash_df: int | None,
                         max_bucket: int,
                         store_sigs: DataFrame | None = None,
                         store_shards: int | None = None
                         ) -> tuple[DataFrame, DataFrame]:
    """The shared head of every fuzzy video gate: capped hash rows
    (:func:`_video_hashes`) through the one quarter-blocked Hamming
    matcher (``dedup._hamming_matches``, pigeonhole-exact at H ≤ 3,
    chunk-grid).  ``store_shards=None`` is the full pass over
    ``new_sigs``; otherwise only matches touching the batch
    ``new_sigs`` are formed.  Returns ``(all capped rows, distinct
    matches (doc_a, doc_b, sig_a, sig_b, hamming))`` — the rows are
    the containment gates' denominators."""
    from petropandas_spark.pipeline.dedup import _hamming_matches

    newd, stored, alld = _video_hashes(new_sigs, id_col, max_hash_df,
                                       store_sigs)
    matched = _hamming_matches(newd, id_col, "fhash", max_hamming,
                               max_bucket, store=stored,
                               store_shards=store_shards)
    return alld, matched.distinct()


def _n_distinct(col: str) -> Column:
    """Exact distinct count of ``col`` per group.  Two ``countDistinct``
    over different columns in one aggregate plan an ``Expand`` whose
    group ids Spark assigns in hash order of fresh expression ids, so
    two builds of one query can generate different source and miss the
    codegen class cache; ``size(collect_set)`` plans one object
    aggregate whose source is the same every build."""
    return F.size(F.collect_set(col)).cast("long")


def _shared_frames(matched: DataFrame, min_shared: int) -> DataFrame:
    """Fuzzy ``n_shared`` per pair, counted conservatively as
    ``least(distinct a-side, distinct b-side)`` so one frame matching
    two similar frames of the other video cannot inflate it."""
    return (
        matched.groupBy("doc_a", "doc_b")
        .agg(F.least(_n_distinct("sig_a"), _n_distinct("sig_b"))
             .alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def _containment(hashes: DataFrame, matched: DataFrame, id_col: str,
                 min_frac: float) -> DataFrame:
    """The containment gate over fuzzy matches: matched hashes per
    side divided by that video's capped hash count, gated on the
    greater of the two fractions."""
    counts = hashes.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    per_pair = matched.groupBy("doc_a", "doc_b").agg(
        _n_distinct("sig_a").alias("n_matched_a"),
        _n_distinct("sig_b").alias("n_matched_b"),
    )
    joined = (
        per_pair
        .join(counts.withColumnRenamed(id_col, "doc_a")
              .withColumnRenamed("__n", "__na"), "doc_a")
        .join(counts.withColumnRenamed(id_col, "doc_b")
              .withColumnRenamed("__n", "__nb"), "doc_b")
    )
    containment = F.greatest(
        F.col("n_matched_a") / F.col("__na"),
        F.col("n_matched_b") / F.col("__nb"),
    )
    return (
        joined.select(
            "doc_a", "doc_b", "n_matched_a", "n_matched_b",
            containment.alias("containment"),
        )
        .where(F.col("containment") >= float(min_frac))
    )


def video_neardup_pairs_fuzzy(sigs: DataFrame, id_col: str = "doc_id",
                              min_shared: int = 2, max_hamming: int = 3,
                              max_hash_df: int | None =
                              DEFAULT_VIDEO_STOP_HASH_DF,
                              max_bucket: int = 10_000) -> DataFrame:
    """Near-dup video pairs with FUZZY frame matching: videos with at
    least ``min_shared`` frame hashes matching within Hamming
    ``max_hamming`` (vs :func:`video_neardup_pairs`'s exact equality).

    Why: the exact gate is brittle to photometric edits — ±2-level
    noise or a brightness shift flips 1–2 dHash bits per frame, so the
    EXACT hash no longer meets even though every frame still matches
    perceptually (``tools/video_recall.py``: noise recall 0.0 exact →
    1.0 fuzzy).  Same matcher as the image tier: frame hashes
    quarter-block through ``_bucket_pairs_any`` (pigeonhole-EXACT at
    H≤3, chunk-grid for hot blocks), the stop-hash cap drops degenerate
    exact hashes first, and ``n_shared`` counts MATCHED FRAME HASHES
    conservatively — ``least(distinct a-side, distinct b-side)`` — so
    one frame matching two similar frames of the other video cannot
    inflate the count.  At ``max_hamming=0`` this degenerates to the
    exact gate.  Cost vs exact: 4× block fan-out on 8-byte rows (the
    quarter explosion), never media."""
    _, matched = _video_fuzzy_matches(sigs, id_col, max_hamming,
                                      max_hash_df, max_bucket)
    return _shared_frames(matched, min_shared)


def video_containment_pairs(sigs: DataFrame, id_col: str = "doc_id",
                            min_frac: float = 0.8, max_hamming: int = 3,
                            max_hash_df: int | None =
                            DEFAULT_VIDEO_STOP_HASH_DF,
                            max_bucket: int = 10_000) -> DataFrame:
    """SHORT-IN-LONG video detection — the video twin of the text
    tier's ``containment_verified_pairs``: a pair fires when at least
    ``min_frac`` of EITHER video's (capped) frame hashes fuzzy-match
    (Hamming ≤ ``max_hamming``) the other's, so a clip cut from a
    longer video surfaces even though the symmetric ``min_shared``
    near-dup count treats it as a weak match.

    ``containment_a = matched a-side hashes / |a hashes|`` (and the
    mirror); the gate is ``greatest(containment_a, containment_b) ≥
    min_frac``.  Denominators are post-cap hash counts — a video whose
    only content is stop-worded black frames has no denominator and
    never fires.  Same matched-frame derivation as
    :func:`video_neardup_pairs_fuzzy` (one blocked pass over 8-byte
    rows) + one per-video count joined to both sides.  Returns
    ``(doc_a, doc_b, n_matched_a, n_matched_b, containment)``."""
    hashes, matched = _video_fuzzy_matches(sigs, id_col, max_hamming,
                                           max_hash_df, max_bucket)
    return _containment(hashes, matched, id_col, min_frac)


def video_union_fingerprints(df: DataFrame, content_col: str = "content",
                             id_col: str = "doc_id", n_frames: int = 4,
                             min_cut: int = 1_000_000,
                             on_error: str = "raise") -> DataFrame:
    """BOTH fingerprint tiers from ONE decode — the artifact of the
    measured production video gate (union of sampled-fuzzy and
    shots-fuzzy = 1.0 recall on every edit class in
    ``tools/video_recall.py``, where each tier alone fails a disjoint
    class: fixed-count sampling dies on trims, shot anchors alone
    under-cover single-shot edits).  Output one row per fingerprint:
    ``(id, tier, idx, fhash)`` with tier 0 = the fixed-count temporal-NN
    sample of :func:`video_fingerprints` (idx = sample slot) and tier 1
    = the content-locked hard-cut anchors of
    :func:`video_fingerprints_shots` (idx = anchor frame).  The
    container is parsed and the frames hashed ONCE — running the two
    derivations as separate stages would double the decode, the only
    expensive part.  Pairs via :func:`video_neardup_pairs_union`;
    ``on_error='quarantine'`` as in :func:`_fingerprint_stage`
    (tier and idx −1)."""
    def rows_of(blob):
        frames = _video_frames(blob)
        picks = _sample_picks(len(frames), n_frames)
        anchors = _shot_anchors(frames, min_cut)
        fh = {p: dhash64(frames[p]) for p in {*picks, *anchors}}
        return ([(0, k, fh[p]) for k, p in enumerate(picks)]
                + [(1, a, fh[a]) for a in anchors])

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("tier", "INT"), ("idx", "INT"),
                               ("fhash", "BIGINT")],
                              rows_of)


def _per_tier_union(gate) -> DataFrame:
    """A pair fires when EITHER fingerprint tier's gate fires;
    ``n_shared`` = greatest over the tiers that fired.  ``gate(t)``
    runs one tier's gate on that tier's rows only."""
    return (
        gate(0).unionByName(gate(1))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("n_shared").alias("n_shared"))
    )


def _tier(d: DataFrame | None, t: int) -> DataFrame | None:
    return None if d is None else d.where(F.col("tier") == t)


def video_neardup_pairs_union(sigs: DataFrame, id_col: str = "doc_id",
                              min_shared: int = 2, max_hamming: int = 3,
                              max_hash_df: int | None =
                              DEFAULT_VIDEO_STOP_HASH_DF,
                              max_bucket: int = 10_000) -> DataFrame:
    """The measured production video gate over tier-tagged rows
    (:func:`video_union_fingerprints` output): run the fuzzy gate
    INDEPENDENTLY per tier — stop-hash cap, quarter-blocked Hamming ≤
    ``max_hamming`` matching, the conservative least-side ``n_shared``
    — and a pair fires when EITHER tier clears ``min_shared``
    (``n_shared`` = greatest over the tiers that fired).  Per-tier
    evaluation matters: document frequencies, denominators, and share
    counts must not mix across tiers (a sampled hash and a shot hash of
    the same frame are the same value — pooling them would double-count
    it).  Cost: two blocked passes over disjoint slices of the same
    8-byte rows, exactly what running the registered
    ``media_video_neardups_fuzzy`` + ``media_video_shots``-based gates
    separately costs, minus the second decode."""
    return _per_tier_union(lambda t: video_neardup_pairs_fuzzy(
        _tier(sigs, t), id_col, min_shared, max_hamming, max_hash_df,
        max_bucket))


def video_incremental_pairs_union(store_sigs: DataFrame | None,
                                  new_sigs: DataFrame,
                                  id_col: str = "doc_id",
                                  min_shared: int = 2,
                                  max_hamming: int = 3,
                                  max_hash_df: int | None =
                                  DEFAULT_VIDEO_STOP_HASH_DF,
                                  max_bucket: int = 10_000,
                                  store_shards: int = 8) -> DataFrame:
    """Incremental twin of :func:`video_neardup_pairs_union`: the
    per-tier fuzzy incremental gates over a tier-tagged store/batch,
    unioned with ``n_shared`` = greatest over fired tiers.  Result ≡
    the full union gate restricted to batch-touching pairs
    (pytest-pinned): each tier's restriction is exact, and the union of
    restrictions is the restriction of the union."""
    return _per_tier_union(lambda t: video_incremental_pairs_fuzzy(
        _tier(store_sigs, t), _tier(new_sigs, t), id_col, min_shared,
        max_hamming, max_hash_df, max_bucket, store_shards))


def video_incremental_pairs(store_sigs: DataFrame | None,
                            new_sigs: DataFrame, id_col: str = "doc_id",
                            min_shared: int = 2,
                            max_hash_df: int | None =
                            DEFAULT_VIDEO_STOP_HASH_DF,
                            max_bucket: int = 10_000,
                            store_shards: int = 8) -> DataFrame:
    """Incremental twin of :func:`video_neardup_pairs`: pairs TOUCHING
    a new batch of frame signatures (new↔old and new↔new, never
    old↔old).  Result ≡ full recompute (same ``max_hash_df`` cap)
    restricted to batch-touching pairs (pytest-pinned).  The store
    carries 8-byte hashes, so no settled video is ever re-parsed.

    Same two hot-hash guards as the full pass: the per-(hash, shard)
    buckets go through the shared ``_flag_and_shard`` +
    ``_incremental_value_pairs`` machinery (store rows salted into
    ``store_shards`` sub-buckets — a degenerate hash's settled
    membership never collects into one array; chunk-grid for the pair
    explosion), and the stop-hash cap drops hashes whose document
    frequency over store ∪ batch exceeds ``max_hash_df``.  The cap's
    df must be GLOBAL to match the full recompute, so it costs one
    extra map-side-combinable count over the (id, fhash) rows + an
    anti-join — 8-byte signature rows, never media."""
    from petropandas_spark.pipeline.dedup import (
        _flag_and_shard, _incremental_value_pairs)

    newd, stored, _ = _video_hashes(new_sigs, id_col, max_hash_df,
                                    store_sigs)

    def keyed(d: DataFrame) -> DataFrame:
        return d.select(F.col("fhash"), F.col(id_col).alias("v"))

    flagged = _flag_and_shard(
        keyed(newd), None if stored is None else keyed(stored),
        F.col("v"), store_shards)
    matched = (
        _incremental_value_pairs(flagged, "v", ["fhash"], max_bucket,
                                 with_keys=True)
        .select(
            F.least(F.col("a"), F.col("b")).alias("doc_a"),
            F.greatest(F.col("a"), F.col("b")).alias("doc_b"),
            F.col("fhash"),
        )
        .distinct()  # new↔new pairs meet in every shard
    )
    return (
        matched.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def video_incremental_containment(store_sigs: DataFrame | None,
                                  new_sigs: DataFrame,
                                  id_col: str = "doc_id",
                                  min_frac: float = 0.8,
                                  max_hamming: int = 3,
                                  max_hash_df: int | None =
                                  DEFAULT_VIDEO_STOP_HASH_DF,
                                  max_bucket: int = 10_000,
                                  store_shards: int = 8) -> DataFrame:
    """Incremental twin of :func:`video_containment_pairs`: containment
    pairs TOUCHING a new batch — the ingest-time "is this landing clip
    cut from a settled video (or vice versa)?" check.  Matched frames
    come from the shared incremental machinery (new↔old and new↔new,
    never old↔old); denominators are per-video capped hash counts over
    store ∪ batch, from the same capped derivation that feeds the
    matcher, so result ≡ the full containment gate restricted to
    batch-touching pairs (pytest-pinned).  Store cost: 8-byte hash
    rows + one count aggregate per batch."""
    hashes, matched = _video_fuzzy_matches(
        new_sigs, id_col, max_hamming, max_hash_df, max_bucket,
        store_sigs, store_shards)
    return _containment(hashes, matched, id_col, min_frac)


def video_incremental_pairs_fuzzy(store_sigs: DataFrame | None,
                                  new_sigs: DataFrame,
                                  id_col: str = "doc_id",
                                  min_shared: int = 2,
                                  max_hamming: int = 3,
                                  max_hash_df: int | None =
                                  DEFAULT_VIDEO_STOP_HASH_DF,
                                  max_bucket: int = 10_000,
                                  store_shards: int = 8) -> DataFrame:
    """Incremental twin of :func:`video_neardup_pairs_fuzzy`: fuzzy
    (Hamming ≤ ``max_hamming`` per frame hash) pairs TOUCHING a new
    batch — new↔old and new↔new, never old↔old, on the shared
    ``_flag_and_shard`` + ``_incremental_value_pairs`` machinery with
    the same global stop-hash cap as the full pass (df over store ∪
    batch, so result ≡ full recompute restricted to batch-touching
    pairs; pytest-pinned).  The store carries 8-byte hashes — settled
    video is never re-parsed; per batch the cost is one quarter-block
    shuffle of signature rows plus the cap's count."""
    _, matched = _video_fuzzy_matches(
        new_sigs, id_col, max_hamming, max_hash_df, max_bucket,
        store_sigs, store_shards)
    return _shared_frames(matched, min_shared)


FIXTURE_VIDEO_FRAMES = 8


def fixture_video_pixel_values(doc_id: int, frame: int) -> np.ndarray:
    """(16, 16, 3) int64 channel values for frame ``frame`` of the
    fixture video of ``doc_id`` — the video analog of
    :func:`fixture_pixel_values`: family base = doc_id DIV 3, variant
    m = doc_id % 3 (0 = pristine; 1 = a gradient overlay on ONE sampled
    frame — the other sampled frames still match, so the pair clears
    ``min_shared``; 2 = the overlay on every frame — nothing matches)."""
    n = FIXTURE_IMG_SIZE
    r = np.arange(n)[:, None, None]
    c = np.arange(n)[None, :, None]
    ch = np.arange(3)[None, None, :]
    base = doc_id // 3
    m = doc_id % 3
    # the r·c cross term de-aliases frame-hash entropy at corpus scale,
    # exactly as in fixture_pixel_values (r14): without it the per-frame
    # dHash sign-pattern space saturates — measured max same-hash
    # cluster 32 at sf0.1 / 201 at the ×10 tier (quadratic in-bucket
    # pair mass in the fuzzy gates), vs 2 / 6 with it, while the
    # planted family structure (shared exact frames within a family)
    # is untouched.  The c·frame term additionally makes the COLUMN
    # gradient frame-dependent: dHash reads only the c-derivative, and
    # a frame-independent c-gradient leaves every frame of a video with
    # a near-identical sign pattern (the f·401 shift is monotone) —
    # real shot anchors carry different content per shot, but a fixture
    # without this term gave the 7-anchor shots tier ~2× the planted
    # pair mass at the ×10 tier (36 265 vs 17 330 pairs) through
    # cross-frame near-collisions
    px = (base * 7919 + frame * 401 + r * (131 + base % 89)
          + c * (17 + base % 101) + r * c * (7 + base % 13)
          + c * frame * (3 + base % 17) + ch * 59)
    hit = (m == 2) or (m == 1 and frame == 2 * (doc_id % 4) + 1)
    if hit:
        # non-uniform overlay: a constant shift would be monotone and
        # leave the dHash unchanged (see the invariance test)
        px = px + ((r * 31 + c * 7) % 11) * 13
    return px % 251


def fixture_video_pixel_values_bf(doc_id: int, frame: int) -> np.ndarray:
    """Black-frame twin of :func:`fixture_video_pixel_values`: frame 1
    (a SAMPLED frame — the temporal NN picks {1, 3, 5, 7}) of EVERY
    video is uniform black, so its dHash is the single constant 0
    shared by the whole corpus — the planted degenerate frame-hash
    class (black / fade / title cards) that the stop-hash cap of
    :func:`video_neardup_pairs` exists for.  All other frames follow
    the base fixture, so with the hot hash stop-worded out the pair
    structure is the family structure; without the cap every
    cross-family video pair shares the black hash."""
    if frame == 1:
        return np.zeros((FIXTURE_IMG_SIZE, FIXTURE_IMG_SIZE, 3),
                        dtype=np.int64)
    return fixture_video_pixel_values(doc_id, frame)


def synthesize_fixture_videos(df: DataFrame,
                              id_col: str = "doc_id",
                              pixel_fn=fixture_video_pixel_values
                              ) -> DataFrame:
    """mapInPandas: id → deterministic 8-frame concatenated-P6 video
    bytes through the real :func:`encode_ppm_video`.  ``pixel_fn``
    selects the fixture family (default the base family;
    :func:`fixture_video_pixel_values_bf` plants the degenerate
    black-frame class).

    The id input is ``_spread`` (r14): a single small parquet file
    scans as ONE partition, which serialized the whole synth+decode
    Python stage on one core (measured 5.5 → 3.4 s on the exact video
    gate at sf0.1 with the spread); at real scale the source has many
    splits and the spread is a no-op."""
    from petropandas_spark.pipeline.dedup import _spread

    schema = f"{id_col} BIGINT, content BINARY"

    def run(batches):
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                frames = [
                    pixel_fn(int(i), f).astype(np.float32) / 255.0
                    for f in range(FIXTURE_VIDEO_FRAMES)
                ]
                ids.append(i)
                blobs.append(encode_ppm_video(frames))
            yield pd.DataFrame({id_col: ids, "content": blobs})

    src = _spread(df.select(id_col), id_col)
    return _tag_content_fusion(
        src.mapInPandas(run, schema=schema), src, run, id_col)


# -- audio: REAL PCM WAV decode (stdlib wave + NumPy — no external libs) ----

def decode_audio(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode PCM WAV bytes → (float32 samples in [-1, 1] shaped
    (n_frames, n_channels), sample_rate).  8/16/32-bit integer PCM via
    the stdlib ``wave`` reader; anything else (mp3/ogg/float-WAV) raises
    NotImplementedError — plug soundfile/ffmpeg here and the Arrow
    plumbing below is unchanged."""
    import io
    import wave

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise NotImplementedError(
            "only PCM RIFF/WAVE decodable in-container "
            f"(got magic {blob[:4]!r})"
        )
    with wave.open(io.BytesIO(blob)) as w:
        nch, sw, rate, nframes = (w.getnchannels(), w.getsampwidth(),
                                  w.getframerate(), w.getnframes())
        raw = w.readframes(nframes)
    if sw == 1:  # unsigned 8-bit
        x = (np.frombuffer(raw, np.uint8).astype(np.float32) - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, "<i2").astype(np.float32) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, "<i4").astype(np.float32) / 2147483648.0
    else:
        raise NotImplementedError(f"sample width {sw} not supported")
    return x.reshape(-1, nch), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Inverse of :func:`decode_audio` at 16-bit PCM (clipping)."""
    import io
    import wave

    x = np.clip(np.asarray(samples, np.float32), -1.0, 1.0)
    if x.ndim == 1:
        x = x[:, None]
    pcm = (x * 32767.0).round().astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(x.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def audio_fingerprint64(samples: np.ndarray,
                        offset_frac: float = 0.0) -> int:
    """64-bit audio fingerprint: the sign of consecutive frame-energy
    differences (the time-domain core of the Haitsma-Kalker 2002
    "highly robust audio fingerprint" — their per-band filterbank
    version drops in here when an FFT library is available).  The clip
    is cut into 65 proportional frames (frame of sample i =
    ``i·65 // n``); bit f is set iff E(f+1) > E(f), where E is the
    integer energy Σs² of the channel-summed 16-bit samples.  ALL
    integer math after sample recovery — ``rint(x·32768)`` restores the
    exact PCM integers the WAV carried (a power-of-two scale is exact
    in float32) — so the fingerprint is engine-reproducible, and pairs
    go through the same Hamming-blocked machinery as SimHash/pHash.

    ``offset_frac`` shifts the framing grid by that fraction of one
    frame (drops the first ``n·offset_frac/65`` samples before
    framing).  The proportional framing is NOT translation-invariant —
    a ~half-frame trim flips most sign bits (measured recall 0.0 at
    H≤3 in ``tools/audio_recall.py``, the audio analog of dHash vs
    1-px translation) — so production probing stores fingerprints at a
    few framing offsets and unions the blocked passes
    (:func:`audio_neardup_pairs_multioffset`): a trimmed twin realigns
    with whichever stored offset is nearest its cut point."""
    if samples.ndim == 1:
        samples = samples[:, None]
    s = np.rint(samples * 32768.0).astype(np.int64).sum(axis=1)
    if offset_frac:
        s = s[int(len(s) * offset_frac / 65.0):]
    n = len(s)
    if n == 0:
        return 0
    frames = (np.arange(n, dtype=np.int64) * 65) // n
    energy = np.zeros(65, dtype=np.int64)
    np.add.at(energy, frames, s * s)
    return _pack_bits64((energy[1:] > energy[:-1]).tolist())


def audio_fingerprints(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id",
                       on_error: str = "raise") -> DataFrame:
    """Per-clip 64-bit fingerprints in ONE narrow Arrow stage (decode →
    :func:`audio_fingerprint64`), the audio twin of
    :func:`phash_images`: 8 bytes per clip, near-dup pairs via
    ``dedup.hamming_neardup_pairs``.  ``on_error='quarantine'`` routes
    an undecodable clip to one NULL-fingerprint row with
    ``decode_error`` (:func:`_fingerprint_stage`)."""
    def rows_of(blob):
        return [(audio_fingerprint64(decode_audio(blob)[0]),)]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("afp", "BIGINT")], rows_of)


def audio_fingerprints_offsets(df: DataFrame,
                               offsets: tuple = (0.0, 0.5),
                               content_col: str = "content",
                               id_col: str = "doc_id",
                               on_error: str = "raise") -> DataFrame:
    """Multi-offset fingerprints: one ``(id, off_idx, afp)`` row per
    clip per framing offset, decoded ONCE in one Arrow stage (the
    per-offset cost is an integer re-frame of the already-recovered
    samples, not a re-decode).  This is the mitigation for the
    measured time-offset failure (``tools/audio_recall.py``: a
    half-frame trim has recall 0.0 at H≤3 single-offset): storing the
    grid at ``offsets`` fractions of a frame and pairing STACKED rows
    means a trimmed twin meets the stored offset nearest its cut point
    — the Haitsma-Kalker overlapping-window idea, paid as
    ``len(offsets)`` 8-byte columns instead of an FFT.  Pairs via
    :func:`audio_neardup_pairs_multioffset`; ``on_error='quarantine'``
    as in :func:`_fingerprint_stage` (off_idx −1)."""
    offs = [float(o) for o in offsets]

    def rows_of(blob):
        x, _rate = decode_audio(blob)
        return [(oi, audio_fingerprint64(x, off))
                for oi, off in enumerate(offs)]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("off_idx", "INT"), ("afp", "BIGINT")],
                              rows_of)


def audio_neardup_pairs_multioffset(fps: DataFrame,
                                    id_col: str = "doc_id",
                                    max_hamming: int = 3,
                                    max_bucket: int = 10_000
                                    ) -> DataFrame:
    """Near-dup clip pairs over multi-offset fingerprints
    (:func:`audio_fingerprints_offsets` output): the stacked
    ``(id, afp)`` rows go through ONE quarter-blocked Hamming pass, so
    every offset combination (a@0 ↔ b@0, a@0 ↔ b@½, …) is probed by
    the same join — cross-offset matches are exactly how a trimmed
    twin surfaces.  Returns ``(doc_a, doc_b, hamming)`` with hamming =
    MIN over the offset combinations that fired; one clip's own
    offsets never pair with each other (the matcher drops same-id
    rows)."""
    from petropandas_spark.pipeline.dedup import hamming_neardup_pairs

    p = hamming_neardup_pairs(fps.select(id_col, "afp"), "afp", id_col,
                              max_hamming, max_bucket)
    return p.groupBy("doc_a", "doc_b").agg(F.min("hamming").alias("hamming"))


def audio_fingerprints_windows(df: DataFrame,
                               window_samples: int = 260,
                               content_col: str = "content",
                               id_col: str = "doc_id",
                               on_error: str = "raise") -> DataFrame:
    """WINDOWED audio fingerprints — the containment substrate: one
    ``(id, win_idx, afp)`` row per full ``window_samples`` slice of the
    decoded clip (decode ONCE, fingerprint each window with
    :func:`audio_fingerprint64`'s proportional 65-frame grid over the
    window).  Whole-clip fingerprints collapse a clip and the longer
    track it was cut from into ONE comparison that fails (the global
    energy profile differs), exactly the failure the video tier solved
    with per-frame hashes: windows are the audio analog of frames, and
    a clip cut at window granularity shares its windows' fingerprints
    with the track's corresponding windows.  Pairs via
    :func:`audio_containment_pairs` (asymmetric fraction-matched gate);
    a clip shorter than one window emits no rows (nothing to contain);
    ``on_error='quarantine'`` as in :func:`_fingerprint_stage`
    (win_idx −1)."""
    w = int(window_samples)
    if w <= 0:
        raise ValueError(f"window_samples must be positive, got {w}")

    def rows_of(blob):
        x, _rate = decode_audio(blob)
        return [(k, audio_fingerprint64(x[k * w:(k + 1) * w]))
                for k in range(len(x) // w)]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("win_idx", "INT"), ("afp", "BIGINT")],
                              rows_of)


def audio_fingerprints_onsets(df: DataFrame,
                              window_samples: int = 1040,
                              frame_samples: int = 64,
                              min_ratio: float = 4.0,
                              min_energy: int = 1_000_000,
                              content_col: str = "content",
                              id_col: str = "doc_id",
                              on_error: str = "raise") -> DataFrame:
    """ONSET-ANCHORED audio fingerprints — the cut-robust containment
    substrate, the audio twin of :func:`video_fingerprints_shots`.

    :func:`audio_fingerprints_windows` places window starts at
    multiples of ``window_samples`` FROM CLIP START, so a clip cut
    mid-window from a longer track has every window straddling two of
    the track's windows and the containment gate collapses
    (``tools/audio_containment_recall.py``: recall 1.0 at aligned cuts
    → 0.0 a quarter-window off).  Onset anchors are CONTENT-LOCKED
    instead: frame f (of ``frame_samples`` samples) is an onset iff
    its integer energy exceeds ``min_ratio`` × the previous frame's
    AND ``min_energy`` (the standard energy-onset detector — an attack
    transient), and each onset anchors one ``window_samples`` window
    starting at a SAMPLE-EXACT refinement of the attack: the |s|-peak
    sample within frames [f−1, f+2).  The refinement is what makes
    the anchor cut-invariant — the detector's frame grid is laid from
    CLIP start, so a cut at ``delta ∤ frame_samples`` shifts the grid
    and a frame-quantized anchor would carry up to frame_samples−1
    samples of residual misalignment, which this fingerprint does not
    survive (``tools/audio_recall.py``: a HALF-frame shift alone is
    recall 0; ``tools/audio_containment_recall.py`` measured the
    frame-quantized variant at 0.0 for every unaligned cut).  The
    peak sample is a property of the CONTENT, identical in clip and
    track, so interior onsets yield sample-identical windows and
    match at H=0 — exactly how shot anchors fixed the video trim
    failure.  A clip with no detected onset falls back to its
    middle-anchored window.  Anchors flush with the end when the
    window would overrun (full windows only; a clip shorter than one
    window emits no rows; an onset too close to the end to fit a full
    window is DROPPED, not clamped — a flush-end window's start would
    depend on clip length, not content, and could never match).
    Output ``(id, anchor_idx, afp)`` rows —
    anchor_idx is the refined sample position — feed the SAME
    containment machinery (:func:`audio_containment_pairs` takes any
    (id, afp) rows); ``on_error='quarantine'`` as in
    :func:`_fingerprint_stage` (anchor_idx −1)."""
    w, fr = int(window_samples), int(frame_samples)
    if w <= 0 or fr <= 0:
        raise ValueError("window_samples and frame_samples must be "
                         "positive")

    def anchors_of(s: np.ndarray) -> list[int]:
        """SAMPLE positions of the refined onset anchors."""
        n = len(s) - len(s) % fr
        if n < fr:
            return [max(0, (len(s) - w) // 2)]
        e = (s[:n].reshape(-1, fr).astype(np.int64) ** 2).sum(axis=1)
        hits = [f for f in range(1, len(e))
                if e[f] > min_ratio * e[f - 1] and e[f] > min_energy]
        out = []
        for f in hits:
            lo, hi = max(0, (f - 1) * fr), min(len(s), (f + 2) * fr)
            p0 = lo + int(np.abs(s[lo:hi]).argmax())
            # re-center once: the detector's frame grid is laid from
            # clip start, so the first range can clip the attack at an
            # edge and the two sides of a cut would pick different
            # peaks; a second argmax centered on the first converges
            # both to the attack's true |s|-max (the attack is shorter
            # than one detector frame, so the centered range covers it)
            lo2, hi2 = max(0, p0 - fr), min(len(s), p0 + fr)
            out.append(lo2 + int(np.abs(s[lo2:hi2]).argmax()))
        return sorted(set(out)) or [max(0, (len(s) - w) // 2)]

    def rows_of(blob):
        x, _rate = decode_audio(blob)
        s = np.rint((x if x.ndim == 1 else x.sum(axis=1))
                    * 32768.0).astype(np.int64)
        if len(s) < w:
            return []
        # overrunning anchors are DROPPED, not clamped: a flush-end
        # window's start depends on the clip's length, not its content,
        # so it can never match the track's window for the same onset —
        # a clamped row would just dilute the containment fraction
        pos_ok = [p for p in anchors_of(s) if p + w <= len(s)] \
            or [max(0, (len(s) - w) // 2)]
        return [(p, audio_fingerprint64(x[p:p + w])) for p in pos_ok]

    return _fingerprint_stage(df, id_col, content_col, on_error,
                              [("anchor_idx", "INT"), ("afp", "BIGINT")],
                              rows_of)


def audio_containment_pairs(fps: DataFrame, id_col: str = "doc_id",
                            min_frac: float = 0.8, max_hamming: int = 3,
                            max_fp_df: int | None =
                            DEFAULT_VIDEO_STOP_HASH_DF,
                            max_bucket: int = 10_000) -> DataFrame:
    """SHORT-IN-LONG audio detection — the audio twin of
    :func:`video_containment_pairs` (r13 verdict next-item 5): a pair
    fires when at least ``min_frac`` of EITHER clip's (capped) windowed
    fingerprints fuzzy-match (Hamming ≤ ``max_hamming``) the other's —
    a clip sampled from a longer track matches ~all of ITS windows
    while covering few of the track's, which is exactly what the
    symmetric whole-clip gate cannot see.  Sampling/clipping is the
    dominant real-world audio edit, so this is the ingest-time
    provenance gate for audio.

    Same machinery as the video gate (the helpers are generic over
    ``(id, signature)`` rows): stop-signature df cap first
    (``max_fp_df`` — a silence/tone window shared by a large fraction
    of all clips is a degenerate O(N²) bucket, the audio analog of
    black frames), one quarter-blocked pass over 8-byte rows,
    post-cap denominators.  Input: :func:`audio_fingerprints_windows`
    output.  Returns ``(doc_a, doc_b, n_matched_a, n_matched_b,
    containment)``."""
    return video_containment_pairs(
        fps.select(id_col, F.col("afp").alias("fhash")), id_col,
        min_frac, max_hamming, max_fp_df, max_bucket)


def audio_incremental_containment(store_fps: DataFrame | None,
                                  new_fps: DataFrame,
                                  id_col: str = "doc_id",
                                  min_frac: float = 0.8,
                                  max_hamming: int = 3,
                                  max_fp_df: int | None =
                                  DEFAULT_VIDEO_STOP_HASH_DF,
                                  max_bucket: int = 10_000,
                                  store_shards: int = 8) -> DataFrame:
    """Incremental twin of :func:`audio_containment_pairs` — the
    ingest-time "is this landing clip sampled from a settled track (or
    vice versa)?" check, delegating to the shared incremental
    containment machinery (global df cap over store ∪ batch,
    batch-touching pairs only, denominators over store ∪ batch; result
    ≡ the full gate restricted to batch-touching pairs,
    pytest-pinned).  The store carries 8-byte window fingerprints —
    settled audio is never re-decoded."""
    rename = (lambda d: None if d is None
              else d.select(id_col, F.col("afp").alias("fhash")))
    return video_incremental_containment(
        rename(store_fps), rename(new_fps), id_col, min_frac,
        max_hamming, max_fp_df, max_bucket, store_shards)


def audio_incremental_pairs_multioffset(store_fps: DataFrame | None,
                                        new_fps: DataFrame,
                                        id_col: str = "doc_id",
                                        max_hamming: int = 3,
                                        max_bucket: int = 10_000,
                                        store_shards: int = 8
                                        ) -> DataFrame:
    """Incremental twin of :func:`audio_neardup_pairs_multioffset`:
    multi-offset pairs TOUCHING a new batch of stacked
    ``(id, off_idx, afp)`` rows — one shared-machinery
    ``hamming_incremental_pairs`` pass over the stacked rows (every
    offset combination probed by the same quarter-blocked join,
    new↔old and new↔new, never old↔old; never same-id),
    hamming = MIN over the fired combinations.  A clip lands with ALL
    its offset rows in one batch, so result ≡ full recompute
    restricted to batch-touching pairs (pytest-pinned); the store
    carries ``len(offsets)`` 8-byte rows per settled clip — never
    re-decoded."""
    from petropandas_spark.pipeline.dedup import hamming_incremental_pairs

    p = hamming_incremental_pairs(
        None if store_fps is None else store_fps.select(id_col, "afp"),
        new_fps.select(id_col, "afp"), "afp", id_col,
        max_hamming, max_bucket, store_shards)
    return p.groupBy("doc_a", "doc_b").agg(F.min("hamming").alias("hamming"))


# fixture clips: the audio twin of fixture_pixel_values — a mono
# 16-bit WAV per doc whose samples are a closed-form integer function
# of the doc_id; same family structure (DIV 3 base / % 3 variant:
# 0 = pristine, 1 = one frame +300 → ≤2 fingerprint bits, 2 = a
# sawtooth overlay → far outside the gate)

FIXTURE_WAV_SAMPLES = 1040  # 65 frames × 16 samples
FIXTURE_WAV_RATE = 8000


def fixture_audio_samples(doc_id: int) -> np.ndarray:
    """int64 sample values in [-2000, 2301] for the fixture clip."""
    i = np.arange(FIXTURE_WAV_SAMPLES, dtype=np.int64)
    base = doc_id // 3
    m = doc_id % 3
    # the quadratic term's base-mixed coefficient keeps fingerprints
    # distinct across families: a purely linear ramp mod 4001 makes
    # the frame-energy sequence a phase rotation shared by every base
    # with the same slope (measured 19-clip accidental clusters at
    # sf0.1; max 2 with the quadratic)
    s = base * 73 + i * (31 + base % 29) + i * i * (1 + base % 23)
    if m == 2:
        s = s + (i % 7) * 211
    s = s % 4001 - 2000
    if m == 1:
        s = s + np.where(i * 65 // FIXTURE_WAV_SAMPLES
                         == doc_id % 65, 300, 0)
    return s


def synthesize_fixture_audio(df: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: id → deterministic fixture WAV bytes through the
    real :func:`encode_wav` (16-bit PCM; ``v/32767`` survives the
    encode rint and the decode's ``/32768`` restores v exactly).

    Id input ``_spread`` for scan parallelism, as in
    :func:`synthesize_fixture_videos` (no-op at real scale)."""
    from petropandas_spark.pipeline.dedup import _spread

    schema = f"{id_col} BIGINT, content BINARY"

    def run(batches):
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                s = fixture_audio_samples(int(i)).astype(np.float32) / 32767.0
                ids.append(i)
                blobs.append(encode_wav(s, FIXTURE_WAV_RATE))
            yield pd.DataFrame({id_col: ids, "content": blobs})

    src = _spread(df.select(id_col), id_col)
    return _tag_content_fusion(
        src.mapInPandas(run, schema=schema), src, run, id_col)


def audio_features(df: DataFrame, content_col: str = "content",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-clip audio descriptors in ONE narrow Arrow stage (mapInPandas
    over the binary column — no shuffle): duration, sample rate,
    channels, RMS loudness, peak, zero-crossing rate."""
    out_schema = (f"{id_col} long, n_frames long, sample_rate int, "
                  "n_channels int, duration_ms long, rms double, "
                  "peak double, zero_crossing_rate double")

    def batches(it):
        for pdf in it:
            rows = []
            for did, blob in zip(pdf[id_col], pdf[content_col]):
                x, rate = decode_audio(bytes(blob))
                mono = x.mean(axis=1)
                zc = (np.signbit(mono[1:]) != np.signbit(mono[:-1])).mean() \
                    if len(mono) > 1 else 0.0
                rows.append((did, len(x), rate, x.shape[1],
                             int(len(x) * 1000 / rate),
                             float(np.sqrt((mono ** 2).mean())),
                             float(np.abs(x).max()),
                             float(zc)))
            yield pd.DataFrame(rows, columns=[
                id_col, "n_frames", "sample_rate", "n_channels",
                "duration_ms", "rms", "peak", "zero_crossing_rate"])

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


def resample_audio(df: DataFrame, factor: int,
                   content_col: str = "content",
                   id_col: str = "doc_id") -> DataFrame:
    """Integer-factor decimation (every ``factor``-th frame), re-encoded
    as 16-bit WAV — same chained-narrow-stage shape as
    :func:`resize_images`; swap in polyphase filtering via scipy where
    available."""
    out_schema = f"{id_col} long, {content_col} binary"

    def batches(it):
        for pdf in it:
            rows = []
            for did, blob in zip(pdf[id_col], pdf[content_col]):
                x, rate = decode_audio(bytes(blob))
                rows.append((did, encode_wav(x[::factor], rate // factor)))
            yield pd.DataFrame(rows, columns=[id_col, content_col])

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)
