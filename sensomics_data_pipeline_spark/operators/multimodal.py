"""Multimodal column plumbing (north-star ops): images/audio/video as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` operators.

Decode support is two-tier:

- **Container-free formats decode for REAL** with stdlib + numpy:
  PCM WAV (RIFF parse → samples → duration/RMS/peak features,
  ``audio_features``) and uncompressed 24-bit BMP (header parse →
  pixel array → per-channel stats and nearest-neighbor resize,
  ``image_stats`` / ``resize_bmp_nearest``).
- Compressed codecs (JPEG/PNG/MP3/H.264) need libs not in this
  container: image decode tries Pillow and audio decode tries
  soundfile / torchaudio via optional imports, falling back to the
  documented ``NotImplementedError`` when absent — the Spark-side
  plumbing (schemas, batch shapes, UDF signatures, partitioning) is
  identical with or without the libs. EXCEPTION: FLAC has a hermetic
  pure-Python subset decoder (:func:`decode_flac_subset` — CONSTANT /
  VERBATIM subframes, CRC-verified), so the compressed-audio routing
  is exercised with zero external dependencies (vendored fixture test
  in ``tests/test_operators.py``); real-encoder FLAC (LPC subframes)
  still requires soundfile/torchaudio.

Scale notes: binary payloads ride in Arrow buffers (no base64, no
per-row pickling); ``spark.sql.files.maxPartitionBytes`` and
``maxRecordsPerBatch`` bound executor memory per batch; metadata-only
stages (``with_media_metadata``) never touch payload bytes beyond
length, so Catalyst prunes the binary column away when downstream only
reads metadata.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def with_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap metadata pass: byte length, crc32-style portable hash, magic
    prefix — pure column expressions, payload column prunable."""
    p = F.col(payload_col)
    return (
        df.withColumn("n_bytes", F.length(p))
        .withColumn("payload_md5", F.md5(p))
        .withColumn("magic", F.hex(F.substring(p, 1, 4)))
    )


def decode_image(payload: bytes) -> "object":
    """Decode an image payload to an ``ndarray`` of shape (H, W, C).

    Tries Pillow first (optional dependency — not in this container,
    but the production path when present: PIL handles JPEG/PNG/WebP/
    GIF and converts to RGB); a PIL-less environment falls back to the
    package's own pure-stdlib BMP decoder (``decode_bmp``) for the BMP
    magic, and raises the documented ``NotImplementedError`` for
    formats that genuinely need a codec library. Deterministic fakes
    (``fake_decode_features``) remain the pipeline-testing stand-in."""
    try:
        from PIL import Image  # optional; absent in this container
    except ImportError:
        Image = None
    if Image is not None:
        import io

        import numpy as np

        with Image.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("RGB"))
    if payload and payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "image decode requires Pillow (not in this container); only the "
        "stdlib BMP path is available — use fake_decode_features for "
        "pipeline testing"
    )


def fake_decode_features(payload: bytes, n_features: int = 8) -> list[float]:
    """Deterministic fake feature extractor standing in for a decoder+
    CNN featurizer: n_features floats in [0,1) derived from md5(payload).
    Stable across engines/runs — lets the full pipeline (decode →
    features → similarity) run end-to-end without media libs."""
    h = hashlib.md5(payload or b"").digest()
    out = []
    for i in range(n_features):
        chunk = h[(2 * i) % 16] * 256 + h[(2 * i + 1) % 16]
        out.append(round(chunk / 65536.0, 6))
    return out


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    n_features: int = 8,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: the shape
    of a real decode+featurize stage (mapInPandas, one numpy batch per
    Arrow chunk), with the stub featurizer inside."""
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields + [T.StructField("features", T.ArrayType(T.DoubleType()), True)]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = [
                fake_decode_features(p, n_features) for p in pdf[payload_col]
            ]
            yield pdf

    return df.mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    frame_bytes: int = 16,
    stride: int = 4,
) -> DataFrame:
    """Frame sampling for 'video' payloads: treat the payload as a
    sequence of fixed-size frames, emit every ``stride``-th frame as its
    own row (frame_no, frame bytes, frame hash). Real frame decoding
    would replace the byte-slice; the explode shape, schema and
    partition behavior are the production ones."""
    fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("frame", T.BinaryType(), True),
            T.StructField("frame_md5", T.StringType(), True),
        ]
    )
    keep_cols = [f.name for f in fields]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col] or b""
                n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
                for fno in range(0, n_frames, stride):
                    frame = bytes(payload[fno * frame_bytes : (fno + 1) * frame_bytes])
                    rows.append(
                        tuple(row[c] for c in keep_cols)
                        + (fno, frame, hashlib.md5(frame).hexdigest())
                    )
            yield pd.DataFrame(rows, columns=keep_cols + ["frame_no", "frame", "frame_md5"])

    return df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# REAL decoders for container-free formats (stdlib + numpy only)
# ---------------------------------------------------------------------------

def _decode_audio_external(payload: bytes):
    """Optional-dependency decode for compressed audio (mirrors the
    Pillow pattern in :func:`decode_image`): soundfile first (libsndfile
    — FLAC/OGG/float WAV), then torchaudio; ``None`` when neither lib
    is installed (this container has neither — the caller then raises
    the documented ``NotImplementedError``). Returns the same
    ``(sample_rate, n_channels, float64 (frames, channels))`` contract
    as :func:`decode_wav`."""
    import io

    try:
        import soundfile  # optional; absent in this container
    except ImportError:
        pass
    else:
        data, rate = soundfile.read(
            io.BytesIO(payload), dtype="float64", always_2d=True
        )
        return int(rate), data.shape[1], data
    try:
        import torchaudio  # optional; absent in this container
    except ImportError:
        pass
    else:
        wav, rate = torchaudio.load(io.BytesIO(payload))
        x = wav.numpy().T.astype("float64")
        return int(rate), x.shape[1], x
    return None


def _flac_crc8(data: bytes) -> int:
    """CRC-8, polynomial x⁸+x²+x+1 (0x07), init 0 — the FLAC frame
    header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    """CRC-16, polynomial x¹⁶+x¹⁵+x²+1 (0x8005), init 0 — the FLAC
    whole-frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                (crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1
            ) & 0xFFFF
    return crc


class _BitReader:
    """MSB-first bit reader over a bytes buffer."""

    def __init__(self, buf: bytes, byte_pos: int = 0):
        self.buf = buf
        self.pos = byte_pos * 8  # bit cursor

    def read(self, nbits: int) -> int:
        out = 0
        for _ in range(nbits):
            byte = self.buf[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def byte_pos(self) -> int:
        if self.pos & 7:
            raise ValueError("bit cursor not byte-aligned")
        return self.pos >> 3

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


#: FLAC frame-header block-size code table (code → samples); codes 6/7
#: read an 8/16-bit (blocksize−1) field at the end of the header
_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}

#: FLAC frame-header sample-rate code table (code → Hz); 12-14 read a
#: trailing field, 0 defers to STREAMINFO
_FLAC_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}


#: fixed-predictor coefficient table (order → coefficients applied to
#: x[i-1], x[i-2], ...) — the binomial-difference predictors of the
#: public FLAC spec
_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_read_unary(br: "_BitReader") -> int:
    """Count 0-bits up to the terminating 1-bit (Rice quotient /
    wasted-bits encoding)."""
    n = 0
    while br.read(1) == 0:
        n += 1
    return n


def _flac_read_residual(br: "_BitReader", blocksize: int, order: int):
    """Decode one Rice-coded residual section (both 4-bit and 5-bit
    parameter methods, partitioned, with the escaped-raw fallback)."""
    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved residual coding method {method}")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    nparts = 1 << br.read(4)
    if blocksize % nparts:
        raise ValueError("partition count does not divide blocksize")
    per = blocksize // nparts
    if per <= order:
        raise ValueError("predictor order exceeds first partition")
    res: list[int] = []
    for p in range(nparts):
        n = per - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            rawbits = br.read(5)
            if rawbits == 0:
                res.extend([0] * n)
            else:
                res.extend(br.read_signed(rawbits) for _ in range(n))
        else:
            for _ in range(n):
                q = _flac_read_unary(br)
                v = (q << param) | br.read(param)
                res.append((v >> 1) ^ -(v & 1))  # zigzag
    return res


def _flac_predict(warmup, res, coefs, shift: int = 0):
    """Reconstruct samples from warmup + residuals under a (fixed or
    LPC) predictor: ``x[i] = res[i] + (Σ coef[j]·x[i-1-j]) >> shift``.
    Python's ``>>`` on ints IS the arithmetic shift the spec requires
    (floor division by 2^shift, correct for negative predictions)."""
    x = list(warmup)
    for r in res:
        p = 0
        for j, c in enumerate(coefs):
            p += c * x[-1 - j]
        x.append(r + (p >> shift))
    return x


def decode_flac_subset(payload: bytes):
    """Pure-Python decoder for the FLAC SUBSET a hermetic fixture can
    carry (per the public xiph.org format spec): independent channels,
    CONSTANT / VERBATIM / FIXED / LPC subframes (LPC is what a real
    encoder emits for non-trivial audio), Rice residuals (both
    parameter widths, partitioned, escaped-raw), wasted bits, fixed or
    variable blocking. Stereo decorrelation (L/S, R/S, M/S) remains
    outside the subset and still routes to soundfile/torchaudio when
    installed. Both CRCs (header CRC-8, frame CRC-16) are verified.
    Samples are normalized by each FRAME's bit depth (a frame may
    override STREAMINFO via its sample-size code); a STREAMINFO total
    of 0 (legal "unknown") decodes frames until payload exhaustion.
    Returns the :func:`decode_wav` contract:
    ``(sample_rate, n_channels, float64 (frames, channels))``."""
    import numpy as np

    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    # metadata blocks: parse STREAMINFO, skip the rest
    pos = 4
    info = None
    while True:
        hdr = payload[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if btype == 0:
            br = _BitReader(body)
            br.read(16), br.read(16)  # min/max blocksize
            br.read(24), br.read(24)  # min/max framesize
            info = {
                "rate": br.read(20),
                "channels": br.read(3) + 1,
                "bps": br.read(5) + 1,
                "total": br.read(36),
            }
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")

    chans: list[list] = [[] for _ in range(info["channels"])]
    got = 0
    # total == 0 is the spec's legal "unknown length": decode frames
    # until the payload is exhausted instead of returning empty audio
    while pos < len(payload) and (info["total"] == 0 or got < info["total"]):
        frame_start = pos
        br = _BitReader(payload, pos)
        if br.read(14) != 0b11111111111110:
            raise ValueError(f"bad frame sync at byte {pos}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy (fixed and variable both fine)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        # UTF-8-style coded frame/sample number
        first = br.read(8)
        nfollow = 0
        while (first << nfollow) & 0x80 and nfollow < 7:
            nfollow += 1
        nfollow = max(0, nfollow - 1)
        for _ in range(nfollow):
            br.read(8)
        if bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        rate = _FLAC_RATES.get(sr_code, info["rate"])
        if ch_code > 7:
            raise NotImplementedError(
                "stereo decorrelation (L/S, R/S, M/S) not in the "
                "pure-Python FLAC subset"
            )
        n_ch = ch_code + 1
        if n_ch != info["channels"]:
            raise ValueError(
                f"frame channel count {n_ch} != STREAMINFO "
                f"{info['channels']}"
            )
        if ss_code in (3, 7):
            raise ValueError(f"reserved sample-size code {ss_code}")
        bps = {0: info["bps"], 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}[ss_code]
        # normalize by the FRAME's bit depth: a frame may override
        # STREAMINFO via its sample-size code, and scaling everything
        # by the STREAMINFO bps would mis-scale exactly those frames
        scale = float(1 << (bps - 1))
        hdr_end = br.byte_pos()
        if _flac_crc8(payload[frame_start:hdr_end]) != br.read(8):
            raise ValueError("frame header CRC-8 mismatch")
        for c in range(n_ch):
            if br.read(1):
                raise ValueError("bad subframe header padding bit")
            stype = br.read(6)
            wasted = _flac_read_unary(br) + 1 if br.read(1) else 0
            sbps = bps - wasted
            if sbps <= 0:
                raise ValueError("wasted bits exceed sample size")
            if stype == 0:  # CONSTANT
                vals = [br.read_signed(sbps)] * blocksize
            elif stype == 1:  # VERBATIM
                vals = [br.read_signed(sbps) for _ in range(blocksize)]
            elif 8 <= stype <= 12:  # FIXED, order 0-4
                order = stype & 7
                warm = [br.read_signed(sbps) for _ in range(order)]
                res = _flac_read_residual(br, blocksize, order)
                vals = _flac_predict(warm, res, _FLAC_FIXED_COEFS[order])
            elif stype >= 32:  # LPC, order 1-32
                order = (stype & 31) + 1
                warm = [br.read_signed(sbps) for _ in range(order)]
                prec = br.read(4) + 1
                if prec == 16:
                    raise ValueError("invalid qlp coefficient precision")
                shift = br.read_signed(5)
                if shift < 0:
                    raise ValueError("negative qlp shift")
                coefs = [br.read_signed(prec) for _ in range(order)]
                res = _flac_read_residual(br, blocksize, order)
                vals = _flac_predict(warm, res, coefs, shift)
            else:
                raise ValueError(f"reserved subframe type {stype}")
            if wasted:
                vals = [v << wasted for v in vals]
            chans[c].extend(v / scale for v in vals)
        br.align()
        body_end = br.byte_pos()
        if _flac_crc16(payload[frame_start:body_end]) != br.read(16):
            raise ValueError("frame CRC-16 mismatch")
        got += blocksize
        pos = br.byte_pos()

    x = np.array(chans, dtype=np.float64).T
    return info["rate"], info["channels"], x


#: IMA/DVI ADPCM quantizer tables (public spec: IMA Digital Audio
#: Focus/Technical Working Groups recommendation, the codec WAV
#: registers as wFormatTag 0x11).
_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, index: int, nibble: int):
    """One IMA ADPCM decode step: returns the new (pred, index). The
    same routine drives the tests' encoder twin, which is what keeps
    encoder and decoder state in lockstep (ADPCM is a delta codec —
    any divergence compounds)."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble & 7]))
    return pred, index


def decode_ima_adpcm(
    data: bytes,
    n_channels: int,
    block_align: int,
    samples_per_block: int | None = None,
    total_frames: int | None = None,
):
    """Hermetic IMA/DVI ADPCM decoder (WAV wFormatTag 0x11) — the
    compressed-audio representative alongside the FLAC-subset decoder:
    pure-Python + numpy, no external codec.

    Block layout (per the public IMA WAV mapping): each
    ``block_align``-byte block carries one 4-byte header per channel
    (int16 LE predictor = the block's first decoded sample, uint8 step
    index, 1 reserved byte), then the 4-bit samples in 4-byte
    per-channel words — channels interleave word-by-word, nibbles run
    low-before-high within each byte. Returns int16 samples, shape
    ``(frames, channels)``.

    Real-world tolerance: a short trailing block (data length not a
    multiple of ``block_align``) is decoded for the nibbles that fit
    rather than rejected; ``samples_per_block`` (the fmt-extension
    ``wSamplesPerBlock``) truncates each block's output, and
    ``total_frames`` (the ``fact`` chunk's declared frame count)
    truncates the whole stream — padded final blocks would otherwise
    emit synthetic trailing samples."""
    import struct

    import numpy as np

    if block_align <= 4 * n_channels:
        raise ValueError("bad IMA ADPCM block layout")
    out = [[] for _ in range(n_channels)]
    for bstart in range(0, len(data), block_align):
        block = data[bstart : bstart + block_align]
        if len(block) < 4 * n_channels:
            break  # trailing fragment too short for the header — drop
        block_frames = 0
        preds, idxs = [], []
        for c in range(n_channels):
            pred, index, reserved = struct.unpack_from("<hBB", block, 4 * c)
            if index > 88:
                raise ValueError(f"step index {index} > 88")
            preds.append(pred)
            idxs.append(index)
            out[c].append(pred)  # header predictor IS sample 0
        block_frames += 1
        pos = 4 * n_channels
        while pos + 4 * n_channels <= len(block):
            if samples_per_block is not None and (
                block_frames >= samples_per_block
            ):
                break
            for c in range(n_channels):
                word = block[pos + 4 * c : pos + 4 * c + 4]
                for byte in word:
                    for nib in (byte & 0x0F, byte >> 4):
                        preds[c], idxs[c] = _ima_step(
                            preds[c], idxs[c], nib
                        )
                        out[c].append(preds[c])
            block_frames += 8  # 4 bytes/channel-word = 8 nibbles
            pos += 4 * n_channels
        if samples_per_block is not None and block_frames > samples_per_block:
            trim = block_frames - samples_per_block
            for c in range(n_channels):
                del out[c][-trim:]
    x = np.array(out, dtype=np.int16).T
    if total_frames is not None and total_frames < x.shape[0]:
        x = x[:total_frames]
    return x


def decode_wav(payload: bytes):
    """Parse a PCM WAV (RIFF) payload → (sample_rate, n_channels,
    float64 samples in [-1, 1], shape (frames, channels)). Pure
    struct/numpy RIFF walk — supports 8/16/32-bit integer PCM.
    Compressed codecs route through :func:`_decode_audio_external`
    (soundfile / torchaudio, optional deps); FLAC payloads
    additionally fall back to the hermetic pure-Python
    :func:`decode_flac_subset`, so the compressed-audio path is
    exercisable with no external libraries at all. The documented
    ``NotImplementedError`` is raised only when no decoder can take
    the payload."""
    import struct

    import numpy as np

    if payload[:4] == b"fLaC":
        ext = _decode_audio_external(payload)
        if ext is not None:
            return ext
        return decode_flac_subset(payload)
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    samples_per_block, fact_frames = None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
            if len(body) >= 20:
                # fmt extension: uint16 cbSize then (for ADPCM)
                # uint16 wSamplesPerBlock
                cb = struct.unpack("<H", body[16:18])[0]
                if cb >= 2:
                    spb = struct.unpack("<H", body[18:20])[0]
                    samples_per_block = spb if spb > 0 else None
        elif cid == b"fact" and size >= 4:
            # declared frame count — authoritative for padded final
            # blocks in compressed formats
            fact_frames = struct.unpack("<I", body[:4])[0]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format == 0x11:
        # IMA/DVI ADPCM: hermetic decode first (external codecs
        # disagree on trailing-partial-block handling)
        x = decode_ima_adpcm(
            data,
            n_channels,
            block_align,
            samples_per_block=samples_per_block,
            total_frames=fact_frames,
        )
        return sample_rate, n_channels, x.astype("float64") / 32768.0
    if audio_format != 1:
        ext = _decode_audio_external(payload)
        if ext is not None:
            return ext
        raise NotImplementedError(
            f"compressed WAV (format {audio_format}) needs an external "
            "codec (install soundfile or torchaudio)"
        )
    dtype, scale = {8: (np.uint8, 127.5), 16: (np.int16, 32768.0),
                    32: (np.int32, 2147483648.0)}[bits]
    raw = np.frombuffer(data, dtype=dtype)
    x = raw.astype(np.float64)
    if bits == 8:
        x = (x - 127.5) / scale
    else:
        x = x / scale
    return sample_rate, n_channels, x.reshape(-1, n_channels)


def decode_bmp(payload: bytes):
    """Parse an uncompressed 24-bit BMP payload → uint8 RGB array of
    shape (height, width, 3). Handles bottom-up row order and 4-byte
    row padding; raises on compressed / palettized variants."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack("<I", payload[10:14])[0]
    w, h = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    px = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    return px[..., ::-1].copy()  # BGR → RGB


def audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio feature extraction for PCM WAV payloads (Arrow-batched
    mapInPandas): sample rate, channels, duration, RMS energy, peak.
    Non-WAV / compressed payloads yield nulls (``decode_ok = false``)
    instead of failing the batch — at 100 TB a poison payload must not
    kill the job."""
    import math  # noqa: F401

    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("decode_ok", T.BooleanType(), False),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("n_channels", T.IntegerType(), True),
            T.StructField("duration_s", T.DoubleType(), True),
            T.StructField("rms", T.DoubleType(), True),
            T.StructField("peak", T.DoubleType(), True),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = []
            for p in pdf[payload_col]:
                try:
                    sr, nch, x = decode_wav(p or b"")
                    feats.append(
                        (
                            True, sr, nch,
                            round(len(x) / sr, 6),
                            round(float(np.sqrt(np.mean(x**2))), 6),
                            round(float(np.abs(x).max(initial=0.0)), 6),
                        )
                    )
                except Exception:
                    feats.append((False, None, None, None, None, None))
            fdf = pd.DataFrame(
                feats,
                columns=[
                    "decode_ok", "sample_rate", "n_channels",
                    "duration_s", "rms", "peak",
                ],
            )
            yield pd.concat([pdf.reset_index(drop=True), fdf], axis=1)

    return df.mapInPandas(run, out_schema)


def image_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL image statistics for uncompressed BMP payloads: dimensions
    and per-channel mean/std. Poison payloads yield decode_ok=false."""
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("decode_ok", T.BooleanType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("mean_rgb", T.ArrayType(T.DoubleType()), True),
            T.StructField("std_rgb", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = []
            for p in pdf[payload_col]:
                try:
                    px = decode_bmp(p or b"")
                    feats.append(
                        (
                            True, px.shape[1], px.shape[0],
                            [round(float(v), 6) for v in px.mean(axis=(0, 1))],
                            [round(float(v), 6) for v in px.std(axis=(0, 1))],
                        )
                    )
                except Exception:
                    feats.append((False, None, None, None, None))
            fdf = pd.DataFrame(
                feats,
                columns=["decode_ok", "width", "height", "mean_rgb", "std_rgb"],
            )
            yield pd.concat([pdf.reset_index(drop=True), fdf], axis=1)

    return df.mapInPandas(run, out_schema)


def resize_bmp_nearest(
    df: DataFrame,
    payload_col: str = "payload",
    target: tuple[int, int] = (64, 64),
) -> DataFrame:
    """REAL nearest-neighbor resize for BMP payloads: decode → index-map
    resample → raw RGB bytes out (plus dims), ready for a featurizer.
    The compressed-codec equivalent keeps the exact same shape with a
    library decode swapped in."""
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("rgb", T.BinaryType(), True),
            T.StructField("out_w", T.IntegerType(), True),
            T.StructField("out_h", T.IntegerType(), True),
        ]
    )
    tw, th = target

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rgb, ow, oh = [], [], []
            for p in pdf[payload_col]:
                try:
                    px = decode_bmp(p or b"")
                    h, w = px.shape[:2]
                    yi = (np.arange(th) * h) // th
                    xi = (np.arange(tw) * w) // tw
                    rgb.append(px[yi][:, xi].tobytes())
                    ow.append(tw)
                    oh.append(th)
                except Exception:
                    rgb.append(None)
                    ow.append(None)
                    oh.append(None)
            pdf = pdf.reset_index(drop=True).assign(rgb=rgb, out_w=ow, out_h=oh)
            yield pdf

    return df.mapInPandas(run, out_schema)
