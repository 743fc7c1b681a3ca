"""Multimodal column handling — LLM-pipeline family #4.

The driver test data has no image/audio tables, so the binary payloads
here are synthesized deterministically from ``documents.text`` (UTF-8
encode) — but the PLUMBING is the real thing a 100 TB multimodal
pipeline needs:

* an opaque ``binary`` payload column + typed metadata columns
  (modality, byte length, content digest, magic-prefix sniffing) —
  pure JVM expressions, oracle-checked (``multimodal_meta``);
* feature extraction with TWO interchangeable engines: the registered
  ``multimodal_features`` computes the deterministic byte-histogram
  "feature vector" as pure JVM expressions (whole-stage codegen, full
  DuckDB oracle), while ``extract_features`` is the Arrow-batched
  ``mapInPandas`` twin with a REAL batch contract (schema, partition-
  parallel, bounded memory) — the seam real decoders plug into.  Three
  real decode stages exist: PIL images (when PIL is importable) with
  stdlib PIL-free arms for 24-bit BMPs (``_decode_bmp_rgb``), baseline
  JPEGs (``functions.jpeg.decode_baseline_jpeg``, r15 — so the MJPEG
  frame codec genuinely EXECUTES in this container, fixture-tested)
  and 8-bit PNGs (``functions.png.decode_png_rgb``, r15),
  16-bit PCM WAV audio via the stdlib ``wave`` module,
  and video container demux via stdlib struct for BOTH RIFF/AVI
  (``demux_avi_frames``) and ISO-BMFF/MP4 sample tables
  (``demux_mp4_frames``; ``demux_video_frames`` sniffs per payload,
  ``sample_video_frames`` is the mixed-corpus Arrow twin) —
  all container-testable, fixture-tested through the Arrow
  seam; other codecs/containers (progressive JPEG, non-PCM audio,
  non-AVI/MP4 containers) raise ``NotImplementedError`` loudly
  unless ``fake=True``; tests assert the two fake paths produce
  identical features.

At 100 TB: payloads live in parquet binary columns; the meta pass is a
projection (no shuffle); feature extraction is mapInPandas — linear,
partition-parallel, no shuffle — with Arrow batch size as the memory
knob.  Nothing here ever collects payloads to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_hadoop_spark.functions.partitioning import spread_table
from mini_hadoop_spark.functions.text import round_half_up, sql_round_half_up
from mini_hadoop_spark.sources.catalog import load_table

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

FEATURE_DIM = 8

FEATURES_SCHEMA = "doc_id long, modality string, n_bytes long, features array<double>"


def synth_binary_docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """documents.text → (doc_id, modality, payload binary, meta) — the
    canonical multimodal input shape, synthesized deterministically.

    ``spread=False`` keeps the scan's NATURAL split count instead of
    fanning out to all cores.  Python-seam consumers (mapInPandas) want
    this: each extra partition costs a Python worker, and Spark's
    worker factory reaps idle workers after ~1 minute (hard-coded in
    PythonWorkerFactory), so any Python stage that runs more than a
    minute after the last one re-pays worker spawn (fork + pandas/
    pyarrow import) PER PARTITION.  On a 4-core host a trivial
    4-partition mapInPandas stage takes ~1.1 s on freshly spawned
    workers against 0.15-0.4 s on reused ones; at 100 TB the scan has
    hundreds of natural splits and either setting is identical."""
    d = (spread_table if spread else load_table)(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(F.col("source").alias("origin"), F.col("lang").alias("lang")).alias("meta"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads: byte length, SHA-256
    digest, 4-byte magic prefix (hex) — the scan-only pass that needs no
    decoding and therefore no Python.  One projection, zero shuffles."""
    b = synth_binary_docs(spark, sf_dir)
    return b.select(
        "doc_id",
        "modality",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("magic_hex"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       octet_length(encode(text)) AS n_bytes,
       sha256(text)               AS digest,
       lower(substr(hex(encode(text)), 1, 8)) AS magic_hex
FROM documents
"""


def _decode_bmp_rgb(payload: bytes) -> list[tuple[int, int, int]]:
    """Stdlib 24-bit uncompressed BMP decoder (BITMAPINFOHEADER — the
    layout every imaging tool can write): parses the file header's
    pixel-array offset, the DIB dimensions/bpp/compression fields, the
    4-byte row stride and the bottom-up row order (negative height =
    top-down), and returns (r, g, b) pixels in raster order.  BMP
    stores BGR; rows are re-flipped here so callers see top-to-bottom.
    Raises ValueError on non-BMP payloads and on layouts outside the
    24bpp/BI_RGB profile (palette, RLE, bitfields) — loud, never a
    silent stub."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"only 24-bit uncompressed (BI_RGB) BMPs decode here, got "
            f"bpp={bpp} compression={compression}"
        )
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("BMP with non-positive dimensions")
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if data_off + stride * height > len(payload):
        raise ValueError("BMP pixel array runs past the payload end")
    rows = []
    for r in range(height):
        base = data_off + r * stride
        rows.append(
            [
                (payload[base + 3 * c + 2], payload[base + 3 * c + 1], payload[base + 3 * c])
                for c in range(width)
            ]
        )
    if bottom_up:
        rows.reverse()
    return [px for row in rows for px in row]


def _luma_histogram(pixels, dim: int) -> list[float]:
    """8-bin integer-luma (ITU-R 601, coefficients scaled by 1000)
    histogram normalized by pixel count — the shared output convention
    of every image decode arm."""
    hist = [0] * dim
    n = 0
    for r, g, b in pixels:
        luma = (299 * r + 587 * g + 114 * b) // 1000
        hist[min(luma * dim // 256, dim - 1)] += 1
        n += 1
    return [h / max(n, 1) for h in hist]


def _real_image_features(payload: bytes, dim: int) -> list[float]:
    """Real image decode: PIL when importable (any format PIL reads —
    decode, convert to RGB, resize to 16x16, luma histogram); without
    PIL, 24-bit BMPs still decode through the stdlib struct parser
    (:func:`_decode_bmp_rgb`), baseline JPEGs — the MJPEG frame codec —
    through the stdlib T.81 decoder
    (``functions.jpeg.decode_baseline_jpeg``, r15), and 8-bit PNGs
    through the stdlib zlib decoder (``functions.png.decode_png_rgb``,
    r15); the PIL-free arms skip the resize step so the histogram runs
    over the native pixels (for the uniform fixtures the conventions
    give identical features).  Raises ImportError only when PIL is
    absent AND the payload is none of BMP/JPEG/PNG (caller turns that
    into the loud NotImplementedError); corrupt payloads raise
    ValueError and out-of-profile ones (progressive JPEG, 16-bit or
    interlaced PNG) raise NotImplementedError loudly."""
    import io

    try:
        from PIL import Image  # noqa: PLC0415 — optional, probed per call site
    except ImportError:
        # one dispatch site for all stdlib formats (r15 review):
        # stdlib_only=True makes an unrecognized format re-raise as
        # ImportError — the sentinel this function's callers contract on
        _, _, pixels = _decode_any_rgb(payload, stdlib_only=True)
        return _luma_histogram(pixels, dim)
    img = Image.open(io.BytesIO(payload)).convert("RGB").resize((16, 16))
    return _luma_histogram(img.getdata(), dim)


def _float_wav_magnitudes(payload: bytes) -> list[float] | None:
    """Manual RIFF walk for IEEE-float WAV (format code 3 — the stdlib
    ``wave`` module only reads PCM): returns per-sample |amplitude|
    normalized to the 0..32768 integer convention, or None when the
    payload is not a parseable float WAV (caller re-raises the original
    wave error so non-WAV payloads keep their loud contract)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks pad to even offsets
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format, _ch, _rate = struct.unpack_from("<HHI", fmt, 0)
    (bits,) = struct.unpack_from("<H", fmt, 14)
    if audio_format != 3 or bits not in (32, 64):
        return None
    width = bits // 8
    n = len(data) // width
    vals = struct.unpack(f"<{n}{'f' if bits == 32 else 'd'}", data[: n * width])
    return [min(abs(v), 1.0) * 32768.0 for v in vals]


def _real_audio_features(payload: bytes, dim: int) -> list[float]:
    """Real audio decode via the stdlib ``wave`` module — PCM WAV at
    8/16/24/32 bits (r15 widened the r12 16-bit-only arm), plus
    IEEE-float32/64 WAV through a manual RIFF walk (``wave`` rejects
    format 3): every sample's |amplitude| normalized to the shared
    0..32768 convention and binned into a ``dim``-bin histogram — the
    same output shape as the fake decoder and the image path, so
    downstream schema, partitioning and batch handling are identical.
    Raises ``wave.Error``/``EOFError`` on non-WAV payloads (caller
    surfaces them as the loud NotImplementedError); compressed codecs
    (MP3, AAC, ADPCM...) keep failing loudly through the same gate."""
    import io
    import struct
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            sampwidth = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError):
        mags = _float_wav_magnitudes(payload)
        if mags is None:
            raise
        sampwidth, raw = None, b""
    if sampwidth == 1:  # unsigned 8-bit PCM, centered at 128
        mags = [abs(b - 128) * 256.0 for b in raw]
    elif sampwidth == 2:
        n = len(raw) // 2
        mags = [abs(s) * 1.0 for s in struct.unpack(f"<{n}h", raw[: n * 2])]
    elif sampwidth == 3:  # signed 24-bit little-endian
        mags = [
            abs(struct.unpack("<i", raw[i : i + 3] + (b"\xff" if raw[i + 2] >= 0x80 else b"\x00"))[0])
            / 256.0
            for i in range(0, len(raw) - 2, 3)
        ]
    elif sampwidth == 4:  # signed 32-bit int PCM
        n = len(raw) // 4
        mags = [abs(s) / 65536.0 for s in struct.unpack(f"<{n}i", raw[: n * 4])]
    elif sampwidth is not None:
        raise NotImplementedError(
            f"PCM WAV sample width {sampwidth} bytes is out of profile"
        )
    n = len(mags)
    hist = [0] * dim
    for mag in mags:
        hist[min(int(mag) * dim // 32768, dim - 1)] += 1
    return [h / max(n, 1) for h in hist]


def demux_avi_frames(payload: bytes) -> list[bytes]:
    """REAL video-container demux (stdlib struct — no external
    dependency): walk an AVI's RIFF chunk tree and return the raw video
    frame payloads (fourcc ``..dc``/``..db`` chunks inside the ``movi``
    LIST — JPEG images for the common MJPEG codec).  Container-level
    work only; codec decode of each frame is a separate (PIL/ffmpeg)
    step.  Lenient: any RIFF/'AVI ' payload demuxes, even-byte chunk
    padding honored.  Raises ValueError on non-AVI payloads."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("payload is not a RIFF/AVI container")
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            body_start, body_end = pos + 8, min(pos + 8 + size, end)
            if fourcc == b"LIST":
                walk(buf, body_start + 4, body_end)  # skip the list type
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(buf[body_start:body_end])
            pos = body_end + (size & 1)  # chunks pad to even byte counts

    walk(payload, 12, len(payload))
    return frames


def demux_mp4_frames(payload: bytes) -> list[bytes]:
    """REAL MP4 / ISO-BMFF container demux (stdlib struct — no external
    dependency): parse the box tree, locate the first VIDEO track
    (``moov``→``trak``→``mdia``→``hdlr`` handler ``vide``), and
    reconstruct its sample byte ranges from the sample tables —
    ``stsz`` (sizes), ``stsc`` (sample→chunk runs), ``stco``/``co64``
    (chunk file offsets) — exactly the walk every MP4 reader performs
    (ISO/IEC 14496-12 §8.5–8.7).  Returns the raw sample payloads
    (codec frames — e.g. JPEG images for MJPEG tracks); codec decode is
    a separate (PIL/ffmpeg) step, same contract as
    :func:`demux_avi_frames`.  Raises ValueError on payloads that are
    not ISO-BMFF or carry no video track."""
    import struct

    def boxes(buf: bytes, pos: int, end: int):
        """Yield (type, body_start, body_end) for each box in [pos, end)."""
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", buf, pos)
            btype = buf[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize follows the type
                if pos + 16 > end:
                    raise ValueError("truncated ISO-BMFF largesize box")
                (size,) = struct.unpack_from(">Q", buf, pos + 8)
                body = pos + 16
            elif size == 0:  # box extends to the end of the enclosure
                size = end - pos
            if size < (body - pos) or pos + size > end:
                raise ValueError("invalid ISO-BMFF box size")
            yield btype, body, pos + size
            pos += size

    def find(buf: bytes, pos: int, end: int, btype: bytes):
        for t, b, e in boxes(buf, pos, end):
            if t == btype:
                return b, e
        return None

    if len(payload) < 8:
        raise ValueError("payload is not an ISO-BMFF/MP4 container")
    try:
        top = list(boxes(payload, 0, len(payload)))
    except (ValueError, struct.error):
        raise ValueError("payload is not an ISO-BMFF/MP4 container") from None
    types = [t for t, _, _ in top]
    if b"ftyp" not in types and b"moov" not in types:
        raise ValueError("payload is not an ISO-BMFF/MP4 container")
    moov = next(((b, e) for t, b, e in top if t == b"moov"), None)
    if moov is None:
        raise ValueError("ISO-BMFF payload has no moov box")

    for t, tb, te in boxes(payload, *moov):
        if t != b"trak":
            continue
        mdia = find(payload, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = find(payload, *mdia, b"hdlr")
        # hdlr body: version/flags(4) pre_defined(4) handler_type(4)
        if hdlr is None or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        minf = find(payload, *mdia, b"minf")
        stbl = find(payload, *minf, b"stbl") if minf else None
        if stbl is None:
            continue
        stsz = find(payload, *stbl, b"stsz")
        stsc = find(payload, *stbl, b"stsc")
        stco = find(payload, *stbl, b"stco")
        co64 = find(payload, *stbl, b"co64")
        if stsz is None or stsc is None or (stco is None and co64 is None):
            raise ValueError("video trak is missing stsz/stsc/stco sample tables")

        # Sample-table parsing guarded like the top-level box walk
        # (ADVICE r12 — demux_video_frames catches ValueError only):
        # every table's declared entry count is bounds-checked against
        # ITS OWN box end before unpacking.  The explicit check matters
        # beyond converting struct.error: unpack_from reads from the
        # whole payload buffer, so a truncated table would otherwise
        # silently decode the NEIGHBORING box's bytes as sizes/offsets
        # — garbage frames, not an error — on corrupt crawl payloads.
        def table(box_be, fmt_unit: str, count: int, at: int) -> tuple:
            begin, end = box_be
            unit = struct.calcsize(f">{fmt_unit}")
            if count < 0 or begin + at + unit * count > end:
                raise ValueError(
                    "corrupt ISO-BMFF sample tables: declared entry count "
                    "overflows the table box"
                )
            return struct.unpack_from(f">{count}{fmt_unit}", payload, begin + at)

        try:
            # stsz: ver/flags(4) sample_size(4) sample_count(4) [sizes...]
            (fixed_size, n_samples) = table(stsz, "I", 2, 4)
            if fixed_size:
                # the fixed-size arm has no per-entry table to bound it,
                # so bound by the only thing that can hold the samples:
                # the payload itself.  Without this, a corrupt header
                # declaring sample_count=0xFFFFFFFF allocates a ~34 GB
                # list before any other validation runs.
                if fixed_size * n_samples > len(payload):
                    raise ValueError(
                        "corrupt ISO-BMFF sample tables: declared fixed-size "
                        "sample volume exceeds the payload"
                    )
                sizes = [fixed_size] * n_samples
            else:
                sizes = list(table(stsz, "I", n_samples, 12))
            # stco/co64: ver/flags(4) entry_count(4) [offsets...]
            if stco is not None:
                (n_chunks,) = table(stco, "I", 1, 4)
                offsets = list(table(stco, "I", n_chunks, 8))
            else:
                (n_chunks,) = table(co64, "I", 1, 4)
                offsets = list(table(co64, "Q", n_chunks, 8))
            # stsc: ver/flags(4) entry_count(4) [(first_chunk, samples_per_chunk,
            # sample_description_index)...] — runs: entry i applies to chunks
            # first_chunk(i) .. first_chunk(i+1)-1
            (n_runs,) = table(stsc, "I", 1, 4)
            table(stsc, "I", 3 * n_runs, 8)  # bounds-check the whole run array
            runs = [
                struct.unpack_from(">III", payload, stsc[0] + 8 + 12 * i)[:2]
                for i in range(n_runs)
            ]
        except struct.error as exc:
            raise ValueError(f"corrupt ISO-BMFF sample tables: {exc}") from None

        frames: list[bytes] = []
        sample = 0
        for ci in range(n_chunks):  # chunk index, 0-based (spec is 1-based)
            per_chunk = 0
            for first, spc in runs:
                if first <= ci + 1:
                    per_chunk = spc
                else:
                    break
            off = offsets[ci]
            for _ in range(per_chunk):
                if sample >= n_samples:
                    break
                size = sizes[sample]
                if off + size > len(payload):
                    raise ValueError("sample table points past the payload end")
                frames.append(payload[off : off + size])
                off += size
                sample += 1
        return frames
    raise ValueError("ISO-BMFF payload has no video (vide) track")


def _sample_demuxed_frames(binary_df: DataFrame, demux_fn, every_n: int) -> DataFrame:
    """Shared 1→N mapInPandas body for the real-container frame
    samplers, parameterized by the demux callable (ADVICE r12: one body
    instead of two verbatim copies to keep in sync).  Demuxes each
    payload and emits every ``every_n``-th ACTUAL frame chunk through
    the row-expanding Arrow batch contract.  Undemuxable payloads raise
    — a video pipeline must not silently treat a corrupt container as a
    0-frame file."""

    def _frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out: list[tuple] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = demux_fn(bytes(payload))
                for idx in range(0, len(frames), every_n):
                    out.append((doc_id, idx, frames[idx], len(frames)))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame_payload", "n_frames"])

    return binary_df.select("doc_id", "payload").mapInPandas(_frames, schema=FRAMES_SCHEMA)


def _decode_any_rgb(payload: bytes, stdlib_only: bool = False) -> tuple[int, int, list]:
    """Dispatch one image payload to the matching stdlib decoder (BMP /
    baseline JPEG / 8-bit PNG — all always available) or PIL for other
    formats; returns (width, height, [(r, g, b), ...] raster order).
    Raises ValueError on corrupt payloads, NotImplementedError on
    out-of-profile codecs without PIL — never a silent stub.
    ``stdlib_only=True`` raises ImportError for formats outside the
    stdlib arms instead of probing PIL (the sentinel
    ``_real_image_features``' callers map to their own loud errors)."""
    if payload[:2] == b"BM":
        px = _decode_bmp_rgb(payload)
        # _decode_bmp_rgb returns pixels only; recover dims from header
        import struct

        _, width, height = struct.unpack_from("<Iii", payload, 14)
        return width, abs(height), px
    if payload[:2] == b"\xff\xd8":
        from mini_hadoop_spark.functions.jpeg import decode_baseline_jpeg

        return decode_baseline_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from mini_hadoop_spark.functions.png import decode_png_rgb

        return decode_png_rgb(payload)
    if stdlib_only:
        raise ImportError("image payload is not BMP/JPEG/PNG (stdlib arms)")
    try:
        import io

        from PIL import Image  # noqa: PLC0415 — optional, probed per call site
    except ImportError:
        raise NotImplementedError(
            "image payload is not BMP/JPEG/PNG and PIL is not importable in "
            "this environment"
        ) from None
    img = Image.open(io.BytesIO(payload)).convert("RGB")
    return img.width, img.height, list(img.getdata())


def _encode_bmp_rgb(width: int, height: int, pixels: list) -> bytes:
    """Write a 24-bit uncompressed bottom-up BMP (BITMAPINFOHEADER) from
    raster-order (r, g, b) pixels — the byte-exact inverse of
    :func:`_decode_bmp_rgb` (round-trip pytest-pinned)."""
    import struct

    stride = (width * 3 + 3) & ~3
    data_off = 54
    size = data_off + stride * height
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
    hdr += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height, 2835, 2835, 0, 0)
    rows = []
    for r in range(height - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for c in range(width):
            pr, pg, pb = pixels[r * width + c]
            row += bytes((pb, pg, pr))  # BGR on disk
        row += bytes(stride - width * 3)
        rows.append(bytes(row))
    return hdr + b"".join(rows)


def resize_image_payload(payload: bytes, width: int, height: int) -> bytes:
    """REAL image resize (r15): stdlib decode (BMP / baseline JPEG /
    8-bit PNG; PIL for other formats when importable) → nearest-neighbor
    resample → deterministic 24-bit BMP re-encode.  Nearest-neighbor is
    exact integer arithmetic (src = floor(dst * src_dim / dst_dim)), so
    the output bytes are engine- and platform-stable — the property the
    dedup/fingerprint stages downstream rely on."""
    sw, sh, px = _decode_any_rgb(payload)
    out = [
        px[(y * sh // height) * sw + (x * sw // width)]
        for y in range(height)
        for x in range(width)
    ]
    return _encode_bmp_rgb(width, height, out)


def resize_images(binary_df: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """The REAL decode → resize → re-encode stage over the Arrow seam
    (same 1→1 mapInPandas contract as :func:`resize_payloads`, which
    remains the modality-agnostic byte-plumbing twin): each image
    payload is decoded with the stdlib arms, nearest-neighbor resampled
    and re-encoded as a 24-bit BMP.  Partition-parallel, no shuffle; a
    non-image or corrupt payload fails the task loudly — filter to
    image modality first."""

    def _resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "payload": pdf["payload"].map(
                        lambda p: resize_image_payload(bytes(p), width, height)
                    ),
                    "width": width,
                    "height": height,
                }
            )

    return binary_df.select("doc_id", "modality", "payload").mapInPandas(
        _resize, schema=RESIZE_SCHEMA
    )


def sample_avi_frames(binary_df: DataFrame, every_n: int = 4) -> DataFrame:
    """The REAL-container twin of :func:`sample_frames`: AVI-only
    demux (:func:`demux_avi_frames`) through the shared sampler body
    (same output schema as the synthetic slicer)."""
    return _sample_demuxed_frames(binary_df, demux_avi_frames, every_n)


def demux_video_frames(payload: bytes) -> list[bytes]:
    """Container-sniffing demux: RIFF/AVI payloads go through
    :func:`demux_avi_frames`, ISO-BMFF/MP4 payloads through
    :func:`demux_mp4_frames` (sniffed on the RIFF magic — ISO-BMFF has
    no fixed magic, so it is the fall-through that validates its own
    box tree).  Raises ValueError naming both formats when neither
    container parses."""
    if payload[:4] == b"RIFF":
        return demux_avi_frames(payload)
    try:
        return demux_mp4_frames(payload)
    except ValueError:
        raise ValueError(
            "payload is neither a RIFF/AVI nor an ISO-BMFF/MP4 container"
        ) from None


def sample_video_frames(binary_df: DataFrame, every_n: int = 4) -> DataFrame:
    """The container-agnostic twin of :func:`sample_avi_frames`: the
    sniffing :func:`demux_video_frames` (AVI or MP4 per row —
    mixed-container corpora are the 100 TB norm) through the shared
    sampler body."""
    return _sample_demuxed_frames(binary_df, demux_video_frames, every_n)


def decode_payload(payload: bytes, modality: str, fake: bool = False) -> list[float]:
    """Decode one payload into a FEATURE_DIM feature vector.

    ``fake=True`` → the deterministic stub (8-bin byte histogram,
    normalized) that keeps the full pipeline executable and
    test-checkable in this container.  ``fake=False`` → a REAL decoder:
    images go through PIL when it is importable
    (:func:`_real_image_features`); audio goes through the stdlib
    ``wave`` module for 16-bit PCM WAV (:func:`_real_audio_features` —
    r12, always available); video decoders (ffmpeg), non-WAV audio
    codecs and a missing PIL fail loudly — never silently degrade to
    the stub.
    """
    if not fake:
        if modality == "image":
            try:
                return _real_image_features(payload, FEATURE_DIM)
            except ImportError:
                raise NotImplementedError(
                    "real image decoding requires PIL (not importable in this "
                    "environment) for formats beyond BMP/JPEG/PNG — 24-bit "
                    "BMPs, baseline JPEGs and 8-bit PNGs decode via the stdlib "
                    "parsers; pass fake=True for the deterministic stub"
                ) from None
        if modality == "audio":
            import wave

            try:
                return _real_audio_features(payload, FEATURE_DIM)
            except (wave.Error, EOFError) as exc:
                raise NotImplementedError(
                    f"audio payload is not a PCM or IEEE-float WAV ({exc}); "
                    "compressed codecs need decoders not present in this "
                    "environment — pass fake=True for the deterministic stub"
                ) from None
        if modality == "video":
            # container demux is REAL (stdlib) for both AVI and MP4;
            # per-frame codec decode is real for baseline-JPEG (MJPEG)
            # and BMP/DIB frames via the stdlib decoders (r15); other
            # frame codecs still need PIL
            try:
                frames = demux_video_frames(payload)
            except ValueError as exc:
                raise NotImplementedError(
                    f"video payload is not a demuxable container ({exc}); other "
                    "containers need demuxers not present in this environment "
                    "— pass fake=True for the deterministic stub"
                ) from None
            if not frames:
                raise NotImplementedError("video container demuxed to zero frames")
            try:
                per_frame = [_real_image_features(f, FEATURE_DIM) for f in frames]
            except ImportError:
                raise NotImplementedError(
                    f"demuxed {len(frames)} real frames, but per-frame image "
                    "decoding requires PIL for non-BMP, non-baseline-JPEG "
                    "codecs (24-bit BMP/DIB and baseline-JPEG/MJPEG frames "
                    "decode via the stdlib parsers), and PIL is not "
                    "importable in this environment; pass fake=True for the "
                    "deterministic stub"
                ) from None
            return [sum(h[i] for h in per_frame) / len(per_frame) for i in range(FEATURE_DIM)]
        raise NotImplementedError(
            f"real {modality} decoding requires audio/video libraries not present "
            "in this environment; pass fake=True for the deterministic stub"
        )
    hist = [0] * FEATURE_DIM
    for byte in payload:
        hist[byte % FEATURE_DIM] += 1
    total = max(len(payload), 1)
    return [h / total for h in hist]


def extract_features(binary_df: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, modality, payload).

    mapInPandas: each Arrow batch arrives as a pandas DataFrame; the
    decoder runs per row INSIDE the batch (vectorized transfer, scalar
    decode — the realistic shape for image/audio work).  Partition-
    parallel, no shuffle, bounded by Arrow batch size."""

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(len),
                    "features": [
                        decode_payload(p, m, fake=fake)
                        for p, m in zip(pdf["payload"], pdf["modality"])
                    ],
                }
            )

    return binary_df.select("doc_id", "modality", "payload").mapInPandas(
        _extract, schema=FEATURES_SCHEMA
    )


def byte_histogram_features(payload, dim: int = FEATURE_DIM) -> list:
    """The fake decoder's byte histogram as PURE JVM expressions — no
    Python anywhere: ``byte % 8`` equals the byte's low hex nibble % 8
    (16 ≡ 0 mod 8), so the histogram falls out of the payload's hex
    string with one regex projection (keep every second char) plus one
    ``translate`` count per bin.  Returns ``dim`` unrounded feature
    columns ``count_b / max(n_bytes, 1)`` — bit-identical to
    ``decode_payload(..., fake=True)`` (same integer counts, one IEEE
    double division) and SQL-expressible, which upgrades the registered
    query from rows-only to a full DuckDB oracle."""
    if dim != 8:
        raise ValueError("byte_histogram_features requires dim == 8 (low-nibble identity)")
    lows = F.regexp_replace(F.lower(F.hex(payload)), "(.)(.)", "$2")
    total = F.greatest(F.octet_length(payload), F.lit(1))
    return [
        (F.length(lows) - F.length(F.translate(lows, f"{b:x}{b + 8:x}", ""))) / total
        for b in range(dim)
    ]


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction end-to-end with the deterministic fake decoder
    expressed as JVM byte-histogram expressions (full DuckDB oracle;
    whole-stage codegen, zero Python).  The Arrow-batched mapInPandas
    twin (``extract_features``) remains the seam a REAL decoder plugs
    into — tests/test_llm_pipeline.py asserts both paths produce
    identical features."""
    from mini_hadoop_spark.functions.text import round_half_up

    b = synth_binary_docs(spark, sf_dir)
    feats = byte_histogram_features(F.col("payload"))
    return b.select(
        "doc_id",
        "modality",
        F.octet_length("payload").alias("n_bytes"),
        *[round_half_up(f, 6).alias(f"f{i}") for i, f in enumerate(feats)],
    )


RESIZE_SCHEMA = "doc_id long, modality string, payload binary, width int, height int"
FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_payload binary, n_frames int"

FRAME_SIZE = 64  # bytes per synthetic "frame"


def resize_payloads(binary_df: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """Resize plumbing: 1→1 mapInPandas that rewrites each payload to a
    fixed target size and attaches typed dimension metadata.

    The REAL decode → resize → re-encode stage exists as
    :func:`resize_images` (r15, stdlib decoders); this twin remains the
    modality-AGNOSTIC byte plumbing (audio/video payloads have no 2-D
    resize semantics): the deterministic fake tiles/truncates the byte
    stream to exactly ``width*height`` bytes — the SPARK side (schema,
    Arrow batching, binary-in/binary-out, partition-parallel, no
    shuffle) is shared with the real stage."""
    target = width * height

    def _resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def fit(p: bytes) -> bytes:
            if not p:
                return bytes(target)
            reps = (target + len(p) - 1) // len(p)
            return (p * reps)[:target]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "payload": pdf["payload"].map(fit),
                    "width": width,
                    "height": height,
                }
            )

    return binary_df.select("doc_id", "modality", "payload").mapInPandas(
        _resize, schema=RESIZE_SCHEMA
    )


def sample_frames(binary_df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling: 1→N mapInPandas — each video payload explodes into
    every ``every_n``-th FRAME_SIZE-byte slice, tagged with its index.

    This is the row-expanding batch contract (one input row yields many
    output rows inside the same Arrow batch) a video pipeline needs; at
    100 TB it stays linear and shuffle-free, and downstream per-frame
    work inherits the partitioning."""

    def _frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out: list[tuple] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max((len(payload) + FRAME_SIZE - 1) // FRAME_SIZE, 1)
                for idx in range(0, n_frames, every_n):
                    out.append(
                        (doc_id, idx, payload[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE], n_frames)
                    )
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame_payload", "n_frames"])

    return binary_df.select("doc_id", "payload").mapInPandas(_frames, schema=FRAMES_SCHEMA)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the synthetic video payloads.  The projected
    output (indices + sizes, not the binary frames) IS SQL-expressible,
    so this mapInPandas path gets a full DuckDB oracle — the strongest
    check available for a Python-batch operator.

    ``spread=False``: Python-seam parallelism follows the scan's natural
    splits (see ``synth_binary_docs``) — per-partition worker spawn
    dominates a small input, and at scale the splits are already
    plentiful."""
    vids = synth_binary_docs(spark, sf_dir, spread=False).filter(F.col("modality") == "video")
    frames = sample_frames(vids)
    return frames.select(
        "doc_id",
        "frame_idx",
        "n_frames",
        F.octet_length("frame_payload").alias("frame_bytes"),
    )


MULTIMODAL_FRAMES_SQL = f"""
WITH v AS (
  SELECT doc_id, encode(text) AS p FROM documents WHERE doc_id % 3 = 2
), f AS (
  SELECT doc_id, p, greatest(ceil(octet_length(p) / {FRAME_SIZE}.0)::INT, 1) AS n_frames
  FROM v
)
SELECT doc_id, i::INT AS frame_idx, n_frames,
       greatest(least({FRAME_SIZE}, octet_length(p) - i * {FRAME_SIZE}), 0)::INT AS frame_bytes
FROM f, LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 4)) AS i) g
"""


def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset dedup WITHIN each modality: the "same image uploaded
    under ten doc ids" pass every multimodal ingest runs before paying
    for decode/feature-extraction.  Grouping key is (modality, payload
    digest) — cross-modality digest collisions stay separate because a
    byte-identical blob can still mean different things per pipeline.

    Same scale shape as ``dedup_exact``: digest computed in the scan
    projection, one map-side-combined aggregate whose shuffle carries
    64-hex digests, never payload bytes."""
    b = synth_binary_docs(spark, sf_dir)
    return (
        b.select(
            "modality",
            F.sha2("payload", 256).alias("digest"),
            "doc_id",
            F.octet_length("payload").alias("n_bytes"),
        )
        .groupBy("modality", "digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
            F.min("n_bytes").alias("n_bytes"),
        )
    )


MULTIMODAL_PAYLOAD_DEDUP_SQL = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       sha256(text) AS digest,
       min(doc_id)  AS keep_doc_id,
       count(*)     AS n_copies,
       min(octet_length(encode(text))) AS n_bytes
FROM documents
GROUP BY 1, 2
"""


def multimodal_storage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality storage planning report — what a 100 TB multimodal
    lake's capacity review reads: asset count, total/avg bytes, distinct
    payloads, and RECLAIMABLE bytes (what payload-level dedup would free:
    for each digest, (copies - 1) x payload size).  One row per modality:
    (modality, n_assets, total_bytes, n_distinct_payloads, dup_assets,
    reclaimable_bytes, avg_bytes).

    Plan: digest + size in the scan projection, one (modality, digest)
    map-combined aggregate (shuffle carries 64-hex digests + two longs,
    never payload bytes), then one |modalities|-key rollup.  avg_bytes is
    a ratio of exact integer sums rounded half-up — bit-identical across
    engines."""
    b = synth_binary_docs(spark, sf_dir)
    per_digest = (
        b.select(
            "modality",
            F.sha2("payload", 256).alias("digest"),
            F.octet_length("payload").alias("n_bytes"),
        )
        .groupBy("modality", "digest")
        .agg(F.count("*").alias("n_copies"), F.min("n_bytes").alias("n_bytes"))
    )
    return (
        per_digest.groupBy("modality")
        .agg(
            F.sum("n_copies").cast("long").alias("n_assets"),
            F.sum(F.col("n_copies") * F.col("n_bytes")).cast("long").alias("total_bytes"),
            F.count("*").alias("n_distinct_payloads"),
            F.sum(F.col("n_copies") - F.lit(1)).cast("long").alias("dup_assets"),
            F.sum((F.col("n_copies") - F.lit(1)) * F.col("n_bytes"))
            .cast("long")
            .alias("reclaimable_bytes"),
        )
        .select(
            "modality",
            "n_assets",
            "total_bytes",
            "n_distinct_payloads",
            "dup_assets",
            "reclaimable_bytes",
            round_half_up(
                F.col("total_bytes").cast("double") / F.col("n_assets"), 6
            ).alias("avg_bytes"),
        )
    )


MULTIMODAL_STORAGE_SQL = f"""
WITH per_digest AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         sha256(text) AS digest,
         count(*) AS n_copies,
         min(octet_length(encode(text))) AS n_bytes
  FROM documents
  GROUP BY 1, 2
)
SELECT modality,
       sum(n_copies)::BIGINT AS n_assets,
       sum(n_copies * n_bytes)::BIGINT AS total_bytes,
       count(*)::BIGINT AS n_distinct_payloads,
       sum(n_copies - 1)::BIGINT AS dup_assets,
       sum((n_copies - 1) * n_bytes)::BIGINT AS reclaimable_bytes,
       {sql_round_half_up('CAST(sum(n_copies * n_bytes) AS DOUBLE) / sum(n_copies)', 6)} AS avg_bytes
FROM per_digest
GROUP BY modality
"""


QUERIES = {
    "multimodal_meta": multimodal_meta,
    "multimodal_features": multimodal_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_payload_dedup": multimodal_payload_dedup,
    "multimodal_storage_report": multimodal_storage_report,
}

def _features_sql() -> str:
    from mini_hadoop_spark.functions.text import sql_round_half_up

    bins = ",\n       ".join(
        sql_round_half_up(
            f"(length(lows) - length(translate(lows, '{b:x}{b + 8:x}', ''))) / greatest(n_bytes, 1)",
            6,
        )
        + f" AS f{b}"
        for b in range(FEATURE_DIM)
    )
    return f"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         encode(text) AS payload
  FROM documents
), h AS (
  SELECT doc_id, modality, octet_length(payload) AS n_bytes,
         regexp_replace(lower(hex(payload)), '(.)(.)', '\\2', 'g') AS lows
  FROM b
)
SELECT doc_id, modality, n_bytes,
       {bins}
FROM h
"""


MULTIMODAL_FEATURES_SQL = _features_sql()


ORACLES = {
    "multimodal_meta": MULTIMODAL_META_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAMES_SQL,
    "multimodal_payload_dedup": MULTIMODAL_PAYLOAD_DEDUP_SQL,
    "multimodal_storage_report": MULTIMODAL_STORAGE_SQL,
}
