"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Training-data pipelines carry image/audio/video as ``binary`` columns
with typed metadata alongside. All three families here are REAL
end-to-end codecs, pure Python from the wire formats' specs (the
container has no PIL/ffmpeg): Netpbm P6 PPM and 24-bit BMP pixel
decode (bottom-up rows, BGR order, 4-byte row stride), PCM WAV via a
RIFF chunk walk, and uncompressed RIFF/AVI video — nested LIST chunk
tree, real ``avih``/``strh``/``strf`` headers, JUNK padding, ``movi``
DIB frames, ``idx1`` index. Compressed formats (JPEG/PNG/H.264) would
swap the parser body for the codec call with every other line — the
Arrow batching, schema, tensor shape — unchanged.

Why ``mapInPandas``: decode is per-row Python work on bytes — the one
place a built-in can't express the semantics — and Arrow batching
amortizes the Python boundary to one transfer per ~10k rows instead of
one per row. At 100 TB you'd bound batch memory with
``spark.sql.execution.arrow.maxRecordsPerBatch`` and repartition by
payload size so one task never holds a skewed set of 100 MB videos.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Output schema of the video header decode pass.
DECODE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("byte_len", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_frames", LongType(), False),
    ]
)


# The AVI parser/packer below share these closed forms with the DuckDB
# oracle (workload_llm video queries): per document id,
#   width     = 8 + id % 5          (8..12 — odd widths exercise the
#   height    = 6 + id % 4           DIB 4-byte row stride for real)
#   n_frames  = 2 + id % 9          (2..10)
#   rgb[f][j] = (id*7 + f*11 + j) % 256   over the flat TOP-DOWN
#               RGB-interleaved tensor of frame f (j in [0, 3wh))
# and the container length is exactly 244 + n_frames*(24 + stride*h)
# (fixed RIFF/hdrl/strl/JUNK/movi/idx1 overhead, pinned by a test).


def synth_video_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL uncompressed RIFF/AVI container per document:
    ``hdrl`` LIST with real ``avih``/``strh``/``strf`` headers, a
    ``JUNK`` chunk (alignment padding every real muxer emits — the
    parser must skip it), a ``movi`` LIST of ``00db`` frames, each a
    BMP-style DIB (bottom-up rows, BGR order, 4-byte row stride), and
    a trailing ``idx1`` index. The pixel tensor follows the closed
    form above, so DuckDB can verify the decode arithmetically.
    Arrow-batched ``mapInPandas``; self-contained closure."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as _np
        import pandas as _pd

        def chunk(cid: bytes, body: bytes) -> bytes:
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        def avi(doc_id: int) -> bytes:
            w = 8 + doc_id % 5
            h = 6 + doc_id % 4
            n = 2 + doc_id % 9
            stride = (w * 3 + 3) // 4 * 4
            frames = []
            j = _np.arange(3 * w * h, dtype=_np.int64)
            for f in range(n):
                # logical top-down RGB tensor -> DIB wire layout:
                # bottom-up rows, BGR byte order, stride padding
                rgb = (
                    ((doc_id * 7 + f * 11 + j) % 256)
                    .astype(_np.uint8)
                    .reshape(h, w, 3)
                )
                dib = _np.zeros((h, stride), dtype=_np.uint8)
                dib[:, : 3 * w] = rgb[::-1, :, ::-1].reshape(h, 3 * w)
                frames.append(dib.tobytes())
            avih = struct.pack(
                "<IIIIIIIIIIIIII",
                33333, 0, 0, 0x10, n, 0, 1, stride * h, w, h, 0, 0, 0, 0,
            )
            strh = (
                b"vidsDIB "
                + struct.pack(
                    "<IHHIIIIIIIi", 0, 0, 0, 0, 1, 30, 0, n,
                    stride * h, 0, 0,
                )
                + struct.pack("<HHHH", 0, 0, w, h)
            )
            strf = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                0, 0, 0, 0,
            )
            strl = chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf))
            hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)
            junk = chunk(b"JUNK", b"\x00" * 4)
            movi_body = b"movi" + b"".join(
                chunk(b"00db", fr) for fr in frames
            )
            movi = chunk(b"LIST", movi_body)
            # idx1: one 16-byte entry per frame (ckid, flags, offset
            # into movi, length) — real AVIs carry it for seeking
            off, entries = 4, []
            for fr in frames:
                entries.append(
                    b"00db" + struct.pack("<III", 0x10, off, len(fr))
                )
                off += 8 + len(fr) + (len(fr) % 2)
            idx1 = chunk(b"idx1", b"".join(entries))
            body = b"AVI " + hdrl + junk + movi + idx1
            return b"RIFF" + struct.pack("<I", len(body)) + body

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col].astype("int64")]
            yield _pd.DataFrame(
                {"doc_id": ids, "payload": [avi(i) for i in ids]}
            )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return df.select(id_col).mapInPandas(synth, schema)


def _avi_parser_source() -> str:
    """Shared pure-Python AVI chunk-walker, returned as source so each
    mapInPandas closure stays SELF-CONTAINED (executors can't import
    this package from a neutral cwd — exec'ing the source inside the
    closure keeps one canonical parser without a module reference)."""
    return '''
import struct as _struct

import numpy as _np


def _u32(b, p):
    return _struct.unpack_from("<I", b, p)[0]


def parse_avi(payload, want_frames):
    """Walk the RIFF/AVI chunk tree. Returns (width, height, n_frames,
    {frame_idx: top-down RGB flat list}) decoding ONLY the wanted
    frame indices (a real pipeline seeks, it does not decode every
    frame to sample a few). ``want_frames`` is None (headers only), a
    set, or a callable n_frames -> set — resolved lazily when the
    first movi frame is reached, by which point the avih header has
    been read (hdrl precedes movi in the container), so one walk
    suffices."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload: %r" % payload[:4])
    end = 8 + _u32(payload, 4)
    if end > len(payload):
        raise ValueError("truncated AVI: RIFF size past payload end")
    meta = {"w": None, "h": None, "n": None, "bpp": None}
    frames = {}
    seen = [0]  # movi frame counter across nested walks
    want = [want_frames]  # resolved callable -> set on first frame

    def walk(pos, stop):
        while pos + 8 <= stop:
            cid = payload[pos : pos + 4]
            size = _u32(payload, pos + 4)
            body = pos + 8
            if body + size > stop:
                raise ValueError("truncated AVI chunk %r" % cid)
            if cid == b"LIST":
                walk(body + 4, body + size)
            elif cid == b"avih":
                meta["n"] = _u32(payload, body + 16)
                meta["w"] = _u32(payload, body + 32)
                meta["h"] = _u32(payload, body + 36)
            elif cid == b"strf":
                bpp = _struct.unpack_from("<H", payload, body + 14)[0]
                comp = _u32(payload, body + 16)
                if bpp != 24 or comp != 0:
                    raise ValueError(
                        "unsupported AVI stream: bpp=%d comp=%d"
                        % (bpp, comp)
                    )
                meta["bpp"] = bpp
            elif cid in (b"00db", b"00dc"):
                f = seen[0]
                seen[0] += 1
                if callable(want[0]):
                    if meta["n"] is None:
                        raise ValueError("movi before avih header")
                    want[0] = want[0](meta["n"])
                if want[0] is not None and f in want[0]:
                    frames[f] = payload[body : body + size]
            # strh, JUNK, idx1, LIST types we don't care about: skip
            pos = body + size + (size % 2)

    walk(12, end)
    w, h, n = meta["w"], meta["h"], meta["n"]
    if w is None or meta["bpp"] is None:
        raise ValueError("missing avih/strf headers")
    if seen[0] != n:
        raise ValueError(
            "frame count mismatch: avih says %d, movi has %d"
            % (n, seen[0])
        )
    stride = (w * 3 + 3) // 4 * 4
    decoded = {}
    for f, dib in frames.items():
        if len(dib) != stride * h:
            raise ValueError("bad DIB frame size")
        # DIB wire layout -> flat top-down RGB, vectorized: drop the
        # stride padding, flip the bottom-up rows, swap BGR -> RGB
        arr = _np.frombuffer(dib, dtype=_np.uint8).reshape(h, stride)
        rgb = arr[:, : 3 * w].reshape(h, w, 3)[::-1, :, ::-1]
        decoded[f] = rgb.reshape(-1).astype(_np.int64).tolist()
    return w, h, n, decoded
'''


def decode_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL video-container header decode over the binary payload
    column: walks the RIFF/AVI chunk tree (nested LISTs, JUNK padding,
    idx1), reads width/height/frame-count from the actual ``avih``
    header, validates the ``strf`` stream format, and cross-checks the
    declared frame count against the ``movi`` frames actually present.
    Replaced the round-≤7 STUB formulas (``fake_width``,
    ``n_frames = 1 + len % 30``) — the last fake in the codebase.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame;
    we emit one metadata row per input row. The closure is
    deliberately SELF-CONTAINED (imports inside, parser source exec'd
    locally): Python workers unpickle the function on executors where
    this package may not be on ``sys.path``."""
    parser_src = _avi_parser_source()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        env: dict = {}
        exec(parser_src, env)
        parse_avi = env["parse_avi"]

        for pdf in batches:
            out = {
                "doc_id": [],
                "byte_len": [],
                "width": [],
                "height": [],
                "n_frames": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                payload = bytes(payload)
                w, h, n, _ = parse_avi(payload, None)
                out["doc_id"].append(int(doc_id))
                out["byte_len"].append(len(payload))
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(n)
            yield _pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(decode, DECODE_META_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("pixels", ArrayType(LongType(), False), False),
    ]
)


def sample_frames(df: DataFrame, id_col: str = "doc_id", stride: int = 7) -> DataFrame:
    """REAL frame sampling over the AVI payload: one output row per
    sampled frame — the one-to-MANY ``mapInPandas`` shape — carrying
    the DECODED flat top-down RGB tensor of every *stride*-th frame.
    Only the sampled frames' DIB bytes are converted (bottom-up row
    flip, BGR→RGB, stride un-padding); the rest of the ``movi`` list
    is walked but not decoded, as a real keyframe sampler would.

    Self-contained closure (see decode_meta)."""
    parser_src = _avi_parser_source()

    def sample(batches):
        import pandas as _pd

        env: dict = {}
        exec(parser_src, env)
        parse_avi = env["parse_avi"]

        for pdf in batches:
            ids, frames, tensors = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                payload = bytes(payload)
                _, _, _, decoded = parse_avi(
                    payload, lambda n: set(range(0, n, stride))
                )
                for idx in sorted(decoded):
                    ids.append(int(doc_id))
                    frames.append(idx)
                    tensors.append(decoded[idx])
            yield _pd.DataFrame(
                {"doc_id": ids, "frame_idx": frames, "pixels": tensors}
            )

    return df.select(id_col, "payload").mapInPandas(sample, FRAME_SAMPLE_SCHEMA)


#: Output schema of the real pixel decode: one row per image, pixels
#: as a flat top-down RGB-interleaved tensor (length 3·w·h, 0–255).
DECODE_IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("fmt", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("pixels", ArrayType(LongType(), False), False),
    ]
)


def synth_image_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real encoded image per document — PPM for even ids,
    uncompressed 24-bit BMP for odd — whose pixel bytes follow the
    closed form ``pixel_byte[j] = (id·7 + j) mod 256`` over a
    ``(8 + id mod 9) × (8 + id mod 7)`` canvas.  The formula is what
    lets the DuckDB oracle recompute the channel sums arithmetically
    while Spark must earn them through a byte-level header parse,
    row flip and channel swap (see :func:`decode_image`).  The BMP
    packer writes the real wire format: bottom-up rows, BGR byte
    order, rows padded to 4-byte stride — the decoder has to undo all
    three to recover the tensor.  Arrow-batched ``mapInPandas``;
    self-contained closure (see :func:`decode_meta`)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as _np
        import pandas as _pd

        def ppm(pix: bytes, w: int, h: int) -> bytes:
            return b"P6\n%d %d\n255\n" % (w, h) + pix

        def bmp(pix: bytes, w: int, h: int) -> bytes:
            # real wire format, built vectorized: bottom-up rows, BGR
            # order, 4-byte stride padding
            stride = (w * 3 + 3) // 4 * 4
            rgb = _np.frombuffer(pix, dtype=_np.uint8).reshape(h, w, 3)
            data = _np.zeros((h, stride), dtype=_np.uint8)
            data[:, : 3 * w] = rgb[::-1, :, ::-1].reshape(h, 3 * w)
            header = struct.pack(
                "<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0,
            )
            return header + data.tobytes()

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf[id_col].astype("int64"):
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                pix = (
                    (
                        (doc_id * 7 + _np.arange(3 * w * h, dtype=_np.int64))
                        % 256
                    )
                    .astype(_np.uint8)
                    .tobytes()
                )
                ids.append(doc_id)
                payloads.append(
                    ppm(pix, w, h) if doc_id % 2 == 0 else bmp(pix, w, h)
                )
            yield _pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return df.select(id_col).mapInPandas(synth, schema)


def decode_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL pixel decode over the binary payload column — pure-Python
    PPM (P6) and uncompressed 24-bit BMP parsers, no codec library
    (the container has no PIL/ffmpeg; for JPEG/PNG/video swap the
    parser body for the library call — every other line, the Arrow
    batching, schema and tensor shape, stays).  Yields one row per
    image with the flat top-down RGB-interleaved tensor (0–255).

    Scale: identical posture to :func:`decode_meta` — per-row Python
    on bytes is the one shape built-ins can't express, Arrow amortizes
    the boundary, and ``spark.sql.execution.arrow.maxRecordsPerBatch``
    bounds batch memory when payloads are large.  Self-contained
    closure (imports inside, no module-level references)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as _np
        import pandas as _pd

        def parse(payload: bytes):
            if payload[:2] == b"P6":
                # Netpbm header: ASCII tokens (w, h, maxval) split on
                # whitespace, '#' comments allowed, one whitespace
                # byte before the raw top-down RGB data.
                # Both scan loops bound pos: past-the-end slices are
                # empty (never whitespace), so an unbounded loop on a
                # truncated header (b"P6", b"P6\n100") would spin the
                # executor task forever instead of raising.
                pos, tokens = 2, []
                while len(tokens) < 3:
                    while payload[pos : pos + 1].isspace():
                        pos += 1
                    if pos >= len(payload):
                        raise ValueError("truncated PPM header")
                    if payload[pos : pos + 1] == b"#":
                        nl = payload.find(b"\n", pos)
                        if nl < 0:
                            raise ValueError("truncated PPM header")
                        pos = nl + 1
                        continue
                    start = pos
                    while pos < len(payload) and not payload[
                        pos : pos + 1
                    ].isspace():
                        pos += 1
                    if pos >= len(payload):
                        raise ValueError("truncated PPM header")
                    tokens.append(int(payload[start:pos]))
                pos += 1
                w, h, maxval = tokens
                if maxval != 255:
                    raise ValueError(f"unsupported PPM maxval {maxval}")
                pix = payload[pos : pos + 3 * w * h]
                if len(pix) != 3 * w * h:
                    raise ValueError("truncated PPM payload")
                return "ppm", w, h, list(pix)
            if payload[:2] == b"BM":
                offset = struct.unpack_from("<I", payload, 10)[0]
                w, h = struct.unpack_from("<ii", payload, 18)
                bpp = struct.unpack_from("<H", payload, 28)[0]
                compression = struct.unpack_from("<I", payload, 30)[0]
                if bpp != 24 or compression != 0:
                    raise ValueError(f"unsupported BMP variant bpp={bpp}")
                top_down = h < 0
                h = abs(h)
                stride = (w * 3 + 3) // 4 * 4
                if offset + stride * h > len(payload):
                    raise ValueError("truncated BMP payload")
                # vectorized DIB undo: drop stride padding, flip rows
                # when bottom-up, swap BGR -> RGB
                arr = _np.frombuffer(
                    payload, dtype=_np.uint8, count=stride * h, offset=offset
                ).reshape(h, stride)
                rgb = arr[:, : 3 * w].reshape(h, w, 3)
                if not top_down:
                    rgb = rgb[::-1]
                return (
                    "bmp",
                    w,
                    h,
                    rgb[:, :, ::-1]
                    .reshape(-1)
                    .astype(_np.int64)
                    .tolist(),
                )
            raise ValueError(f"unknown image magic {payload[:2]!r}")

        for pdf in batches:
            out = {
                "doc_id": [],
                "fmt": [],
                "width": [],
                "height": [],
                "pixels": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                fmt, w, h, pix = parse(bytes(payload))
                out["doc_id"].append(int(doc_id))
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["pixels"].append(pix)
            yield _pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(
        decode, DECODE_IMAGE_SCHEMA
    )


#: Output schema of the audio decode: one row per clip, samples as the
#: decoded int16 PCM tensor.
DECODE_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_channels", LongType(), False),
        StructField("samples", ArrayType(LongType(), False), False),
    ]
)


def synth_audio_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real PCM WAV clip per document whose int16 samples
    follow the closed form ``s[j] = ((id·13 + j·7) mod 65536) − 32768``
    over ``256 + id mod 128`` samples at ``8000 + (id mod 3)·4000`` Hz.
    The packer writes the real RIFF wire format — fmt chunk, a LIST
    metadata chunk the decoder must SKIP (chunk-walking is the part a
    naive offset-based reader gets wrong), then the little-endian data
    chunk. Arrow-batched ``mapInPandas``; self-contained closure."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as _np
        import pandas as _pd

        def wav(samples, rate: int) -> bytes:
            data = samples.astype("<i2").tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            meta = b"INFOICMT" + struct.pack("<I", 4) + b"synt"
            chunks = (
                b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"LIST" + struct.pack("<I", len(meta)) + meta
                + b"data" + struct.pack("<I", len(data)) + data
            )
            return b"RIFF" + struct.pack("<I", len(chunks)) + chunks

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf[id_col].astype("int64"):
                doc_id = int(doc_id)
                n = 256 + doc_id % 128
                rate = 8000 + (doc_id % 3) * 4000
                samples = (
                    (doc_id * 13 + _np.arange(n, dtype=_np.int64) * 7)
                    % 65536
                ) - 32768
                ids.append(doc_id)
                payloads.append(wav(samples, rate))
            yield _pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return df.select(id_col).mapInPandas(synth, schema)


def decode_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL audio decode: a pure-Python PCM WAV (RIFF) parser — walks
    the chunk list (skipping metadata chunks and honoring the spec's
    odd-size pad byte), reads the fmt chunk (PCM 16-bit only; anything
    compressed raises — that is what needs the absent codec libs), and
    unpacks the data chunk into an int16 sample tensor. Same Arrow
    posture as :func:`decode_image`; self-contained closure."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import pandas as _pd

        def parse(payload: bytes):
            if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                raise ValueError(f"not a RIFF/WAVE payload: {payload[:4]!r}")
            pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
            fmt = None
            while pos + 8 <= end:
                cid = payload[pos : pos + 4]
                size = struct.unpack_from("<I", payload, pos + 4)[0]
                body = payload[pos + 8 : pos + 8 + size]
                if cid == b"fmt ":
                    (audio_fmt, n_ch, rate, _br, _ba, bits) = (
                        struct.unpack_from("<HHIIHH", body, 0)
                    )
                    if audio_fmt != 1 or bits != 16:
                        raise ValueError(
                            f"unsupported WAV: fmt={audio_fmt} bits={bits}"
                        )
                    fmt = (n_ch, rate)
                elif cid == b"data":
                    if fmt is None:
                        raise ValueError("data chunk before fmt chunk")
                    n = size // 2
                    samples = list(
                        struct.unpack_from(f"<{n}h", body, 0)
                    )
                    return fmt[1], fmt[0], samples
                pos += 8 + size + (size % 2)  # chunks pad to even size
            raise ValueError("no data chunk found")

        for pdf in batches:
            out = {
                "doc_id": [],
                "sample_rate": [],
                "n_channels": [],
                "samples": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                rate, n_ch, samples = parse(bytes(payload))
                out["doc_id"].append(int(doc_id))
                out["sample_rate"].append(rate)
                out["n_channels"].append(n_ch)
                out["samples"].append(samples)
            yield _pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(
        decode, DECODE_AUDIO_SCHEMA
    )
