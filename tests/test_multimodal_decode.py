"""Real pixel/sample decode gates: the stdlib PNG/BMP/GIF/WAV decoders in
operators/multimodal.py are verified against independently-written spec
encoders (zlib+struct only, defined here), exercising every PNG scanline
filter, BMP padding/bottom-up storage, GIF LZW + multi-frame + interlace,
and WAV PCM/float variants — then the content-feature vectors are checked
against closed-form expectations (black image, checkerboard, pure sine),
and the Spark mapInPandas paths are gated on real payloads end-to-end."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from raptor_spark.operators.multimodal import (
    _gif_frames,
    audio_content_features,
    decode_audio_samples,
    decode_image_pixels,
    image_content_features,
)

# --- spec encoders (test fixtures; deliberately independent of the decoder)


def encode_png(px: np.ndarray, filters=(0,), palette: np.ndarray | None = None) -> bytes:
    """8-bit PNG encoder; ``filters`` cycles per scanline over the five spec
    filter types so the decoder's unfilter paths are all exercised."""
    h, w, c = px.shape
    color_type = 3 if palette is not None else {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = np.zeros(w * c, np.int64)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int64)
        f = filters[y % len(filters)]
        raw.append(f)
        enc = np.empty(w * c, np.int64)
        for i in range(w * c):
            a = int(line[i - c]) if i >= c else 0
            b = int(prev[i])
            cc = int(prev[i - c]) if i >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[i] = (int(line[i]) - pred) & 0xFF
        raw += bytes(int(v) for v in enc)
        prev = line

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + typ + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def encode_bmp(px: np.ndarray) -> bytes:
    """Uncompressed 24-bit bottom-up BMP with 4-byte row padding."""
    h, w, _ = px.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = []
    for y in range(h - 1, -1, -1):
        row = np.ascontiguousarray(px[y][:, ::-1]).tobytes()  # RGB → BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pix = b"".join(rows)
    hdr = (
        b"BM" + (54 + len(pix)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
    )
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(pix).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return hdr + info + pix


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """16-bit PCM WAV from float samples shaped (n, channels)."""
    ints = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    data = ints.tobytes()
    channels = samples.shape[1]
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * channels * 2).to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


class _GifBits:
    """LSB-first GIF code packer."""

    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def put(self, code: int, size: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += size
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def encode_gif(frames: list[np.ndarray], palette: np.ndarray) -> bytes:
    """GIF89a from index frames + one global palette, using the classic
    "uncompressed LZW" trick: emit literal root codes and a CLEAR before the
    decoder's table would force a code-size change."""
    n_pal = len(palette)
    bits = max(2, int(np.ceil(np.log2(n_pal))))
    full = np.zeros((1 << bits, 3), np.uint8)
    full[:n_pal] = palette
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT flag + size, bg, aspect
    out += full.tobytes()
    clear = 1 << bits
    for fr in frames:
        out += b"\x2C" + b"\x00" * 4
        out += fr.shape[1].to_bytes(2, "little") + fr.shape[0].to_bytes(2, "little")
        out += b"\x00"  # no LCT, not interlaced
        out += bytes([bits])
        bw = _GifBits()
        bw.put(clear, bits + 1)
        since_clear = 0
        for v in fr.reshape(-1):
            # the decoder grows its table per data code after the first;
            # keep code_size fixed by clearing before it would increment
            if since_clear == (1 << bits) - 2:
                bw.put(clear, bits + 1)
                since_clear = 0
            bw.put(int(v), bits + 1)
            since_clear += 1
        bw.put(clear + 1, bits + 1)  # END
        packed = bw.done()
        for i in range(0, len(packed), 255):
            blk = packed[i:i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def _grad(h: int, w: int, c: int) -> np.ndarray:
    """Deterministic, non-trivial pixel content (no rand: repeatable)."""
    y, x = np.mgrid[0:h, 0:w]
    chans = [((x * 7 + y * 13 + k * 41) * 17 % 256) for k in range(c)]
    return np.stack(chans, axis=-1).astype(np.uint8)


# --- decoder round-trips ----------------------------------------------------


def test_png_roundtrip_all_filters_rgb():
    px = _grad(13, 11, 3)
    for filters in ((0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)):
        got = decode_image_pixels(encode_png(px, filters=filters))
        assert got is not None and got.shape == px.shape, filters
        assert np.array_equal(got, px), filters


def test_png_roundtrip_gray_and_alpha():
    for c in (1, 2, 4):
        px = _grad(6, 9, c)
        got = decode_image_pixels(encode_png(px, filters=(4, 2)))
        assert np.array_equal(got, px), c


def test_png_palette_expands_to_rgb():
    pal = np.array([[250, 10, 30], [0, 200, 0], [5, 5, 255], [9, 9, 9]], np.uint8)
    idx = (np.arange(30).reshape(5, 6) % 4).astype(np.uint8)[:, :, None]
    got = decode_image_pixels(encode_png(idx, filters=(1,), palette=pal))
    assert np.array_equal(got, pal[idx[:, :, 0]])


def test_bmp_roundtrip_with_padding():
    # w=5 → 15-byte rows padded to 16: exercises the stride logic
    px = _grad(4, 5, 3)
    got = decode_image_pixels(encode_bmp(px))
    assert np.array_equal(got, px)


def test_gif_multiframe_roundtrip():
    pal = np.array([[0, 0, 0], [255, 255, 255], [255, 0, 0], [0, 0, 255]], np.uint8)
    f0 = (np.arange(42).reshape(6, 7) % 4).astype(np.uint8)
    f1 = ((np.arange(42).reshape(6, 7) + 2) % 4).astype(np.uint8)
    frames = _gif_frames(encode_gif([f0, f1], pal))
    assert frames is not None and len(frames) == 2
    assert np.array_equal(frames[0], pal[f0])
    assert np.array_equal(frames[1], pal[f1])
    # decode_image_pixels returns the first frame
    assert np.array_equal(decode_image_pixels(encode_gif([f0, f1], pal)), pal[f0])


def test_wav_roundtrip_stereo():
    t = np.arange(800) / 8000.0
    samples = np.stack(
        [0.5 * np.sin(2 * np.pi * 440 * t), 0.25 * np.sin(2 * np.pi * 880 * t)],
        axis=1,
    )
    decoded = decode_audio_samples(encode_wav(samples, 8000))
    assert decoded is not None
    got, rate = decoded
    assert rate == 8000 and got.shape == (800, 2)
    assert np.abs(got - samples).max() <= 1.0 / 32767.0


def test_decoders_reject_garbage():
    assert decode_image_pixels(b"not an image at all") is None
    assert decode_audio_samples(b"RIFFxxxxWAVEnope") is None
    # truncated PNG: header ok, no IDAT
    assert decode_image_pixels(encode_png(_grad(2, 2, 3))[:40]) is None


# --- content features: closed-form expectations -----------------------------


def test_image_features_black_and_checkerboard():
    black = np.zeros((8, 8, 3), np.uint8)
    fb = image_content_features(black)
    assert fb[0] == 0.0 and fb[1] == 0.0 and fb[2] == 0.0 and fb[3] == 0.0
    board = np.indices((8, 8)).sum(axis=0) % 2 * 255
    cb = np.stack([board] * 3, axis=-1).astype(np.uint8)
    fc = image_content_features(cb)
    assert abs(fc[0] - 0.5) < 1e-6          # mean luminance
    assert abs(fc[2] - 1.0 / 8.0) < 1e-6    # 1-bit entropy, normalized by 8
    assert fc[3] == 1.0                     # every neighbor flips 0↔255


def test_audio_features_pure_sine():
    rate = 8000
    t = np.arange(4000) / rate
    freq = 1000.0  # = rate/8 → centroid at 0.25 of Nyquist, zcr = 0.25
    mono = (0.5 * np.sin(2 * np.pi * freq * t))[:, None]
    f = audio_content_features(mono, rate)
    assert abs(f[0] - 0.5 / np.sqrt(2)) < 1e-3   # rms
    assert abs(f[1] - 0.5) < 1e-3                # peak
    assert abs(f[2] - 0.25) < 0.01               # zero-crossing rate
    assert abs(f[3] - 0.25) < 0.01               # spectral centroid
    assert f[5] > 0.99                           # all energy in the mid band
    assert abs(f[7]) < 1e-3                      # dc offset


# --- Spark paths over real payloads -----------------------------------------


def test_extract_media_features_real_pixels(spark):
    from raptor_spark.operators.multimodal import extract_media_features

    px = _grad(10, 12, 3)
    samples = np.stack([0.25 * np.sin(np.arange(1600) / 4.0)], axis=1)
    rows = [
        ("png1", "image", None, bytearray(encode_png(px, filters=(0, 4)))),
        ("wav1", "audio", None, bytearray(encode_wav(samples, 16000))),
        ("txt1", "image", None, bytearray(b"text payload -> hash stub")),
    ]
    media = spark.createDataFrame(
        rows, "media_id STRING, media_type STRING, mime STRING, data BINARY"
    )
    out = {r.media_id: r for r in extract_media_features(media).collect()}
    assert all(r.error is None for r in out.values())
    assert (out["png1"].width, out["png1"].height) == (12, 10)
    assert out["png1"].features == image_content_features(px)
    # the codec quantizes to int16 PCM; expect features of what it stored
    quantized = np.clip(np.round(samples * 32767.0), -32768, 32767) / 32768.0
    assert out["wav1"].features == audio_content_features(quantized, 16000)
    # non-container payloads keep the deterministic hash-stub features
    import hashlib

    h = hashlib.sha256(b"text payload -> hash stub").digest()
    assert out["txt1"].features == [b / 255.0 for b in h[:8]]


def test_sample_frames_real_gif(spark):
    from raptor_spark.operators.multimodal import sample_frames

    pal = np.array([[0, 0, 0], [200, 200, 200]], np.uint8)
    bright = (np.indices((6, 6)).sum(axis=0) % 2).astype(np.uint8)  # ~half bright
    dark = np.zeros((6, 6), np.uint8)                               # all black
    gif = encode_gif([bright, dark], pal)
    media = spark.createDataFrame(
        [("g1", "video", None, bytearray(gif))],
        "media_id STRING, media_type STRING, mime STRING, data BINARY",
    )
    got = {r.frame_index: r for r in sample_frames(media).collect()}
    # frame 0: mean luminance 100, 1-bit entropy → passes the reference's
    # raw-bits keep-predicate (mean > 5, entropy > 0.5); all-black frame 1
    # (entropy 0) is dropped
    assert set(got) == {0}
    assert abs(got[0].brightness - 100.0) < 1.0
    assert abs(got[0].entropy - 1.0) < 1e-6


# --- baseline JPEG (spec encoder, independent of the decoder) ---------------

def _jzigzag() -> np.ndarray:
    """Zigzag scan order derived from the diagonal walk (independent of the
    decoder's hardcoded table)."""
    order = sorted(
        ((y, x) for y in range(8) for x in range(8)),
        # odd diagonals run top-right → bottom-left (y ascending), even ones
        # bottom-left → top-right (x ascending)
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else p[1]),
    )
    return np.array([y * 8 + x for y, x in order])


_JZZ = _jzigzag()
_JA = np.array([
    [
        (np.sqrt(1.0 / 8.0) if k == 0 else 0.5)
        * np.cos((2 * n + 1) * k * np.pi / 16.0)
        for n in range(8)
    ]
    for k in range(8)
])


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF00 stuffing and 1-bit padding."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def align(self) -> None:
        while self.n:
            self.put(1, 1)

    def marker(self, m: int) -> None:
        self.align()
        self.out += bytes([0xFF, m])


def _jcat(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _jfixed_table(freqs: dict) -> tuple[bytes, bytes, dict]:
    """All-same-length canonical table over the used symbols; one codepoint
    (the all-ones code) is left unassigned per the spec convention."""
    syms = sorted(freqs)
    length = 1
    while (1 << length) <= len(syms):
        length += 1
    counts = bytearray(16)
    counts[length - 1] = len(syms)
    codes = {s: (i, length) for i, s in enumerate(syms)}
    return bytes(counts), bytes(syms), codes


def encode_jpeg(
    px: np.ndarray,
    subsample: str = "444",
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG (SOF0) from uint8 pixels — H×W or H×W×1
    grayscale, H×W×3 RGB with 4:4:4 or 4:2:0 sampling. Quant tables are
    64-entry zigzag-order arrays (default all ones ≈ near-lossless)."""
    px = np.atleast_3d(px).astype(np.float64)
    h, w, nchan = px.shape
    ql = (np.ones(64) if quant_luma is None else np.asarray(quant_luma)).astype(int)
    qc = ql if quant_chroma is None else np.asarray(quant_chroma).astype(int)
    if nchan == 1:
        planes = [px[:, :, 0]]
        samp = [(1, 1)]
        qids = [0]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            pe = lambda p: np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                                  mode="edge")
            ds = lambda p: pe(p).reshape(
                (pe(p).shape[0] // 2, 2, pe(p).shape[1] // 2, 2)
            ).mean(axis=(1, 3))
            planes = [y, ds(cb), ds(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qids = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for p, (sh, sv) in zip(planes, samp):
        th, tw = mcuy * sv * 8, mcux * sh * 8
        padded.append(np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                             mode="edge"))
    # token pass: (is_ac, table_id, symbol, extra_val, extra_bits)
    tokens: list = []
    freqs: dict = {(0, 0): {}, (1, 0): {}, (0, 1): {}, (1, 1): {}}
    pred = [0] * len(planes)
    quants = [ql, qc]
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                tokens.append(("RST", (mcu_count // restart_interval - 1) % 8))
                pred = [0] * len(planes)
            mcu_count += 1
            for ci, (p, (sh, sv)) in enumerate(zip(padded, samp)):
                tid = 0 if qids[ci] == 0 else 1
                q = quants[qids[ci]]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = p[y0:y0 + 8, x0:x0 + 8] - 128.0
                        coefs = _JA @ block @ _JA.T
                        zz = np.round(coefs.flatten()[_JZZ] / q).astype(int)
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s = _jcat(diff)
                        extra = diff if diff >= 0 else diff + (1 << s) - 1
                        tokens.append((0, tid, s, extra, s))
                        freqs[(0, tid)][s] = freqs[(0, tid)].get(s, 0) + 1
                        run = 0
                        last_nz = max(
                            (k for k in range(1, 64) if zz[k]), default=0
                        )
                        for k in range(1, last_nz + 1):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                tokens.append((1, tid, 0xF0, 0, 0))
                                freqs[(1, tid)][0xF0] = (
                                    freqs[(1, tid)].get(0xF0, 0) + 1
                                )
                                run -= 16
                            s = _jcat(v)
                            extra = v if v >= 0 else v + (1 << s) - 1
                            sym = (run << 4) | s
                            tokens.append((1, tid, sym, extra, s))
                            freqs[(1, tid)][sym] = freqs[(1, tid)].get(sym, 0) + 1
                            run = 0
                        if last_nz < 63:
                            tokens.append((1, tid, 0x00, 0, 0))
                            freqs[(1, tid)][0x00] = (
                                freqs[(1, tid)].get(0x00, 0) + 1
                            )
    n_tables = 1 if nchan == 1 else 2
    tables = {
        (cls, tid): _jfixed_table(freqs[(cls, tid)])
        for cls in (0, 1)
        for tid in range(n_tables)
    }
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big")
                   + body)

    seg(0xDB, bytes([0x00]) + bytes(ql.tolist()))
    if nchan == 3:
        seg(0xDB, bytes([0x01]) + bytes(qc.tolist()))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([len(planes)])
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    seg(0xC0, sof)
    for (cls, tid), (counts, syms, _) in sorted(tables.items()):
        seg(0xC4, bytes([(cls << 4) | tid]) + counts + syms)
    if restart_interval:
        seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        tid = 0 if qids[ci] == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)
    wtr = _JpegBitWriter()
    for tok in tokens:
        if tok[0] == "RST":
            wtr.marker(0xD0 + tok[1])
            continue
        cls, tid, sym, extra, nbits = tok
        code, length = tables[(cls, tid)][2][sym]
        wtr.put(code, length)
        if nbits:
            wtr.put(extra, nbits)
    wtr.align()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


_Q50_LUMA = np.array([
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
])


def test_jpeg_roundtrip_gray_lossless_quant():
    px = _grad(24, 17, 1)
    got = decode_image_pixels(encode_jpeg(px))
    assert got is not None and got.shape == (24, 17, 1)
    diff = np.abs(got.astype(int) - px.astype(int))
    assert diff.max() <= 5, diff.max()
    assert diff.mean() <= 1.5, diff.mean()


def test_jpeg_roundtrip_rgb_444():
    px = _grad(16, 23, 3)
    got = decode_image_pixels(encode_jpeg(px))
    assert got is not None and got.shape == (16, 23, 3)
    diff = np.abs(got.astype(int) - px.astype(int))
    assert diff.max() <= 8, diff.max()
    assert diff.mean() <= 2.0, diff.mean()


def test_jpeg_roundtrip_420_with_restarts():
    y, x = np.mgrid[0:21, 0:26]
    px = np.stack([
        np.clip(x * 4 + y, 0, 255),
        np.clip(y * 4, 0, 255),
        np.full_like(x, 128),
    ], axis=-1).astype(np.uint8)
    got = decode_image_pixels(
        encode_jpeg(px, subsample="420", restart_interval=2)
    )
    assert got is not None and got.shape == (21, 26, 3)
    diff = np.abs(got.astype(int) - px.astype(int))
    assert diff.max() <= 14, diff.max()
    assert diff.mean() <= 3.0, diff.mean()


def test_jpeg_coarse_quantization_decodes():
    y, x = np.mgrid[0:16, 0:16]
    px = np.clip(x * 8 + y * 4, 0, 255).astype(np.uint8)
    got = decode_image_pixels(encode_jpeg(px, quant_luma=_Q50_LUMA))
    assert got is not None and got.shape == (16, 16, 1)
    diff = np.abs(got[:, :, 0].astype(int) - px.astype(int))
    assert diff.mean() <= 12.0, diff.mean()


def test_jpeg_header_dims_and_progressive_rejection():
    from raptor_spark.operators.multimodal import parse_media_header

    payload = encode_jpeg(_grad(12, 34, 3))
    meta = parse_media_header(payload)
    assert meta == {"format": "jpeg", "width": 34, "height": 12,
                    "duration_s": None}
    # flip SOF0 → SOF2 on a BASELINE stream: header metadata still real,
    # but the single Ss=0..Se=63 scan is illegal in progressive (DC and AC
    # may never share a scan, T.81 G.1.1.1.1) so decode refuses the
    # malformed file rather than guessing
    prog = bytearray(payload)
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    meta = parse_media_header(bytes(prog))
    assert meta is not None and meta["width"] == 34
    assert decode_image_pixels(bytes(prog)) is None
    assert decode_image_pixels(payload[:20]) is None


def test_jpeg_features_from_real_pixels():
    px = _grad(16, 16, 3)
    got = decode_image_pixels(encode_jpeg(px))
    feats = image_content_features(got)
    # brightness must track the true luminance mean, not a hash
    lum = 0.2126 * px[:, :, 0] + 0.7152 * px[:, :, 1] + 0.0722 * px[:, :, 2]
    assert abs(feats[0] - lum.mean() / 255.0) < 0.02
    assert feats[4] == 0.5  # square aspect


def test_encode_bmp_gray_roundtrips_through_real_decoder():
    from raptor_spark.operators.multimodal import (
        decode_image_pixels,
        encode_bmp_gray,
    )

    lum = (np.arange(16 * 16, dtype=np.int64) * 7 % 256).astype(np.uint8)
    lum = lum.reshape(16, 16)
    px = decode_image_pixels(encode_bmp_gray(lum))
    assert px is not None and px.shape == (16, 16, 3)
    for c in range(3):
        assert (px[:, :, c] == lum).all()


def test_dhash_invariant_to_brightness_scaling():
    from raptor_spark.operators.multimodal import dhash64

    rng = np.random.RandomState(3)
    base = rng.randint(0, 200, size=(32, 32, 3)).astype(np.uint8)
    brighter = np.clip(base.astype(np.int64) + 40, 0, 255).astype(np.uint8)
    # +constant preserves every gradient sign -> identical hash
    assert dhash64(base) == dhash64(brighter)


def test_image_dhash_planted_near_dup_recall(spark):
    # Planted variants: small word edits on a base text must land within
    # Hamming 3 of the original; unrelated texts must not. End-to-end
    # through REAL BMP bytes and the REAL pixel decoder.
    from raptor_spark.operators.dedup import hamming_near_pairs
    from raptor_spark.operators.multimodal import image_dhash, rasterize_text_media

    base_words = [f"tok{i}" for i in range(300)]
    base = " ".join(base_words)
    edited = base_words.copy()
    edited[17] = "changed"
    edited[190] = "words"
    near = " ".join(edited)
    rng = np.random.RandomState(9)
    unrelated = [
        " ".join(f"w{rng.randint(0, 99999)}" for _ in range(300)) for _ in range(6)
    ]
    rows = [(0, base), (1, near)] + [(10 + i, t) for i, t in enumerate(unrelated)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    media = rasterize_text_media(docs, "doc_id", "text")
    pairs = {
        (r["a"], r["b"])
        for r in hamming_near_pairs(image_dhash(media), max_distance=3).collect()
    }
    assert (0, 1) in pairs          # the planted near-dup is recalled
    assert all(a < 10 or b < 10 for a, b in pairs) or pairs == {(0, 1)}
    # precision: no unrelated-unrelated pair sneaks in
    assert not any(a >= 10 and b >= 10 for a, b in pairs)


def test_encode_wav_pcm16_roundtrips_through_real_decoder():
    from raptor_spark.operators.multimodal import (
        decode_audio_samples,
        encode_wav_pcm16,
    )

    wave = np.sin(np.linspace(0, 20, 4000)) * 0.5
    dec = decode_audio_samples(encode_wav_pcm16(wave, rate=8000))
    assert dec is not None
    samples, rate = dec
    assert rate == 8000
    got = samples[:, 0] if samples.ndim == 2 else samples
    assert got.shape[0] == 4000
    assert np.abs(got - wave).max() < 2e-4  # 16-bit quantization bound


def test_audio_fingerprint_gain_invariant():
    from raptor_spark.operators.multimodal import audio_fingerprint64

    rng = np.random.RandomState(5)
    wave = rng.randn(65 * 64) * 0.2
    assert audio_fingerprint64(wave) == audio_fingerprint64(wave * 0.5)


def test_audio_dhash_planted_near_dup_recall(spark):
    from raptor_spark.operators.dedup import hamming_near_pairs
    from raptor_spark.operators.multimodal import (
        audio_dhash,
        synthesize_audio_media,
    )

    base_words = [f"tok{i}" for i in range(300)]
    base = " ".join(base_words)
    edited = base_words.copy()
    edited[42] = "swap"
    near = " ".join(edited)
    rng = np.random.RandomState(11)
    unrelated = [
        " ".join(f"w{rng.randint(0, 99999)}" for _ in range(300)) for _ in range(6)
    ]
    rows = [(0, base), (1, near)] + [(10 + i, t) for i, t in enumerate(unrelated)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    media = synthesize_audio_media(docs, "doc_id", "text")
    pairs = {
        (r["a"], r["b"])
        for r in hamming_near_pairs(audio_dhash(media), max_distance=3).collect()
    }
    assert (0, 1) in pairs
    assert not any(a >= 10 and b >= 10 for a, b in pairs)


# --- progressive JPEG encoder (SOF2, T.81 Annex G) for fixture generation --
# Same DCT/quant/zigzag machinery as encode_jpeg, but emitted as a
# libjpeg-style scan script: interleaved DC first scan at Al=dc_al, per-band
# per-component AC first scans at Al=ac_al (EOB-run coded), then DC and AC
# successive-approximation refinement scans one bit at a time down to Al=0.
# Every scan redefines Huffman table id 0 of its class right before its SOS
# (legal, and keeps table bookkeeping trivial).


def _jpeg_quantized_blocks(px, subsample, quant_luma, quant_chroma):
    """(w, h, samp, qids, quants, qz) where qz[ci] is the (bh, bw, 64)
    zigzag-order quantized coefficient array over the MCU-padded grid —
    the shared front half of both encoders."""
    px = np.atleast_3d(px).astype(np.float64)
    h, w, nchan = px.shape
    ql = (np.ones(64) if quant_luma is None else np.asarray(quant_luma)).astype(int)
    qc = ql if quant_chroma is None else np.asarray(quant_chroma).astype(int)
    if nchan == 1:
        planes = [px[:, :, 0]]
        samp = [(1, 1)]
        qids = [0]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            pe = lambda p: np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                                  mode="edge")
            ds = lambda p: pe(p).reshape(
                (pe(p).shape[0] // 2, 2, pe(p).shape[1] // 2, 2)
            ).mean(axis=(1, 3))
            planes = [y, ds(cb), ds(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qids = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    quants = [ql, qc]
    qz = []
    for p, (sh, sv), qi in zip(planes, samp, qids):
        th, tw = mcuy * sv * 8, mcux * sh * 8
        pp = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                    mode="edge")
        bh, bw = th // 8, tw // 8
        blocks = np.zeros((bh, bw, 64), int)
        for by in range(bh):
            for bx in range(bw):
                block = pp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                coefs = _JA @ block @ _JA.T
                blocks[by, bx] = np.round(
                    coefs.flatten()[_JZZ] / quants[qi]
                ).astype(int)
        qz.append(blocks)
    return w, h, samp, qids, quants, qz, mcux, mcuy, hmax, vmax


def _trunc_pt(v: int, al: int) -> int:
    """AC point transform: magnitude shift, truncation toward zero."""
    return v >> al if v >= 0 else -((-v) >> al)


def encode_progressive_jpeg(
    px: np.ndarray,
    subsample: str = "444",
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    bands: tuple = ((1, 5), (6, 63)),
    dc_al: int = 1,
    ac_al: int = 1,
) -> bytes:
    w, h, samp, qids, quants, qz, mcux, mcuy, hmax, vmax = (
        _jpeg_quantized_blocks(px, subsample, quant_luma, quant_chroma)
    )
    ncomp = len(samp)
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big")
                   + body)

    seg(0xDB, bytes([0x00]) + bytes(quants[0].tolist()))
    if ncomp == 3:
        seg(0xDB, bytes([0x01]) + bytes(quants[1].tolist()))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([ncomp])
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    seg(0xC2, sof)  # SOF2: progressive DCT, Huffman

    def nonpadded_blocks(ci):
        sh, sv = samp[ci]
        nbw = (w * sh + 8 * hmax - 1) // (8 * hmax)
        nbh = (h * sv + 8 * vmax - 1) // (8 * vmax)
        for by in range(nbh):
            for bx in range(nbw):
                yield by, bx

    def mcu_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            yield ci, my * sv + by, mx * sh + bx

    def write_scan(comp_ids, ss, se, ah, al, tokens, table_class):
        freqs: dict = {}
        for tok in tokens:
            if tok[0] == "h":
                freqs[tok[1]] = freqs.get(tok[1], 0) + 1
        if table_class is not None and freqs:
            counts, syms, codes = _jfixed_table(freqs)
            seg(0xC4, bytes([(table_class << 4) | 0]) + counts + syms)
        else:
            codes = {}
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, sos)
        wtr = _JpegBitWriter()
        for tok in tokens:
            if tok[0] == "h":
                code, length = codes[tok[1]]
                wtr.put(code, length)
            else:
                _, val, nbits = tok
                if nbits:
                    wtr.put(val, nbits)
        wtr.align()
        out.extend(wtr.out)

    def dc_first_tokens(al):
        tokens, pred = [], [0] * ncomp
        for ci, by, bx in mcu_blocks():
            t = int(qz[ci][by, bx][0]) >> al  # DC: arithmetic shift
            diff = t - pred[ci]
            pred[ci] = t
            s = _jcat(diff)
            extra = diff if diff >= 0 else diff + (1 << s) - 1
            tokens.append(("h", s))
            tokens.append(("b", extra, s))
        return tokens

    def dc_refine_tokens(al):
        return [
            ("b", (int(qz[ci][by, bx][0]) >> al) & 1, 1)
            for ci, by, bx in mcu_blocks()
        ]

    def ac_first_tokens(ci, ss, se, al):
        tokens = []
        eobrun = 0

        def flush():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                tokens.append(("h", r << 4))
                if r:
                    tokens.append(("b", eobrun - (1 << r), r))
                eobrun = 0

        for by, bx in nonpadded_blocks(ci):
            zz = qz[ci][by, bx]
            tv = [_trunc_pt(int(zz[k]), al) for k in range(ss, se + 1)]
            last_nz = max((i for i, t in enumerate(tv) if t), default=-1)
            if last_nz < 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
                continue
            flush()
            r = 0
            for i in range(last_nz + 1):
                t = tv[i]
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    tokens.append(("h", 0xF0))
                    r -= 16
                s = _jcat(t)
                extra = t if t >= 0 else t + (1 << s) - 1
                tokens.append(("h", (r << 4) | s))
                tokens.append(("b", extra, s))
                r = 0
            if last_nz < se - ss:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
        flush()
        return tokens

    def ac_refine_tokens(ci, ss, se, al):
        tokens = []
        eobrun = 0
        bbuf: list = []

        def flush():
            nonlocal eobrun, bbuf
            if eobrun:
                r = eobrun.bit_length() - 1
                tokens.append(("h", r << 4))
                if r:
                    tokens.append(("b", eobrun - (1 << r), r))
                tokens.extend(("b", bit, 1) for bit in bbuf)
                bbuf = []
                eobrun = 0

        for by, bx in nonpadded_blocks(ci):
            zz = qz[ci][by, bx]
            av = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
            eob = max((i for i, t in enumerate(av) if t == 1), default=-1)
            r = 0
            br: list = []
            for i, temp in enumerate(av):
                if temp == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    flush()
                    tokens.append(("h", 0xF0))
                    tokens.extend(("b", bit, 1) for bit in br)
                    br = []
                    r -= 16
                if temp > 1:
                    br.append(temp & 1)
                    continue
                flush()
                tokens.append(("h", (r << 4) | 1))
                tokens.append(("b", 1 if int(zz[ss + i]) > 0 else 0, 1))
                tokens.extend(("b", bit, 1) for bit in br)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                bbuf.extend(br)
                if eobrun == 0x7FFF:
                    flush()
        flush()
        return tokens

    all_ids = [ci + 1 for ci in range(ncomp)]
    write_scan(all_ids, 0, 0, 0, dc_al, dc_first_tokens(dc_al), 0)
    for ci in range(ncomp):
        for bs, be in bands:
            write_scan([ci + 1], bs, be, 0, ac_al,
                       ac_first_tokens(ci, bs, be, ac_al), 1)
    for a in range(dc_al, 0, -1):
        write_scan(all_ids, 0, 0, a, a - 1, dc_refine_tokens(a - 1), None)
    for a in range(ac_al, 0, -1):
        for ci in range(ncomp):
            for bs, be in bands:
                write_scan([ci + 1], bs, be, a, a - 1,
                           ac_refine_tokens(ci, bs, be, a - 1), 1)
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_jpeg_matches_baseline_gray():
    """Same pixels, same quant → identical final coefficient state, so the
    progressive decode must be byte-identical to the baseline decode."""
    px = _grad(24, 17, 1)
    base = decode_image_pixels(encode_jpeg(px))
    prog = decode_image_pixels(encode_progressive_jpeg(px))
    assert prog is not None and prog.shape == (24, 17, 1)
    assert np.array_equal(prog, base)
    diff = np.abs(prog.astype(int) - px.astype(int))
    assert diff.max() <= 5


def test_progressive_jpeg_matches_baseline_rgb_444_three_bands():
    px = _grad(16, 23, 3)
    base = decode_image_pixels(encode_jpeg(px))
    prog = decode_image_pixels(
        encode_progressive_jpeg(px, bands=((1, 2), (3, 20), (21, 63)))
    )
    assert prog is not None and prog.shape == (16, 23, 3)
    assert np.array_equal(prog, base)


def test_progressive_jpeg_420_nonpadded_ac_grid():
    """18×18 4:2:0: the luma AC scans cover ceil(18/8)=3 block columns while
    the MCU-padded DC grid has 4 — the non-interleaved block-count rule
    (T.81 A.2.2) that differs from the padded grid."""
    y, x = np.mgrid[0:18, 0:18]
    px = np.stack([
        np.clip(x * 7 + y, 0, 255),
        np.clip(y * 6, 0, 255),
        np.full_like(x, 90),
    ], axis=-1).astype(np.uint8)
    base = decode_image_pixels(encode_jpeg(px, subsample="420"))
    prog = decode_image_pixels(encode_progressive_jpeg(px, subsample="420"))
    assert prog is not None and prog.shape == (18, 18, 3)
    assert np.array_equal(prog, base)


def test_progressive_jpeg_eob_run_extension_bits():
    """Mostly-flat image → AC scans collapse to long EOB runs (> 1, so the
    EOBn extension bits path is exercised on both sides)."""
    px = np.full((64, 64), 120, np.uint8)
    px[5, 7] = 200
    px[40, 33] = 10
    base = decode_image_pixels(encode_jpeg(px))
    prog = decode_image_pixels(encode_progressive_jpeg(px))
    assert prog is not None and np.array_equal(prog, base)


def test_progressive_jpeg_coarse_quant_and_deep_ladder():
    """Q50 quantization plus a 2-bit successive-approximation ladder
    (Al=2 → 1 → 0): two refinement passes for DC and for every AC band,
    driving the correction-bit walk over already-nonzero history."""
    y, x = np.mgrid[0:24, 0:24]
    px = np.clip(x * 8 + y * 4, 0, 255).astype(np.uint8)
    base = decode_image_pixels(encode_jpeg(px, quant_luma=_Q50_LUMA))
    prog = decode_image_pixels(
        encode_progressive_jpeg(px, quant_luma=_Q50_LUMA, dc_al=2, ac_al=2)
    )
    assert prog is not None and np.array_equal(prog, base)


def test_progressive_jpeg_spectral_only_no_refinement():
    """dc_al=ac_al=0: a valid progressive file with spectral selection but
    NO successive approximation (no refinement scans at all) — the other
    corner of the Annex-G scan-script space."""
    px = _grad(20, 31, 3)
    base = decode_image_pixels(encode_jpeg(px))
    prog = decode_image_pixels(
        encode_progressive_jpeg(px, bands=((1, 63),), dc_al=0, ac_al=0)
    )
    assert prog is not None and prog.shape == (20, 31, 3)
    assert np.array_equal(prog, base)


# --- MPEG-1 Audio Layer I (round 5) ----------------------------------------
# From-scratch encoder/decoder roundtrip, same pattern as the JPEG suite:
# the encoder (encode_mpeg1_layer1) writes real ISO 11172-3 Layer I frames
# (header tables, 4-bit allocation, 6-bit scalefactors, spec quantization)
# and the decoder recovers the waveform through the spec synthesis fold
# with the LS-derived window (see multimodal._mp1_tables).


def _mp1_snr(ref, got):
    e = ref - got
    return 10 * np.log10((ref ** 2).sum() / max((e ** 2).sum(), 1e-300))


def test_mpeg1_layer1_roundtrip_snr_and_determinism():
    from raptor_spark.operators.multimodal import (
        decode_audio_samples,
        encode_mpeg1_layer1,
        text_waveform,
    )

    w = text_waveform("the quick brown fox jumps over the lazy dog " * 5)
    data = encode_mpeg1_layer1(w, rate=32000)
    assert encode_mpeg1_layer1(w, rate=32000) == data  # deterministic bytes
    dec = decode_audio_samples(data)
    assert dec is not None
    s, rate = dec
    assert rate == 32000 and s.shape[1] == 1
    d = 481  # spec filterbank delay (analysis + synthesis cascade)
    assert len(s) >= d + len(w)
    seg = s[d:d + len(w), 0]
    assert _mp1_snr(w, seg) >= 60.0  # measured 69.9 dB; 12-bit allocation
    s2, _ = decode_audio_samples(data)
    assert np.array_equal(s, s2)  # deterministic decode


def test_mpeg1_layer1_all_sample_rates():
    from raptor_spark.operators.multimodal import (
        decode_audio_samples,
        encode_mpeg1_layer1,
        text_waveform,
    )

    w = text_waveform("alpha beta gamma delta epsilon zeta eta theta " * 4)
    # 44.1/48 kHz frames are smaller (448 kbps cap), so the uniform
    # allocation drops to 9/8 bits — correspondingly lower SNR floors
    for rate, floor in ((32000, 60.0), (44100, 40.0), (48000, 35.0)):
        data = encode_mpeg1_layer1(w, rate=rate)
        s, r = decode_audio_samples(data)
        assert r == rate
        seg = s[481:481 + len(w), 0]
        assert _mp1_snr(w, seg) >= floor, rate


def test_mpeg1_layer1_bitstream_structure():
    """The emitted frames are valid ISO 11172-3 Layer I: sync, MPEG-1
    version bits, layer-I bits, bitrate index 14 (448 kbps), correct
    frame length, mono mode — so any spec demuxer walks them."""
    from raptor_spark.operators.multimodal import (
        encode_mpeg1_layer1,
        parse_media_header,
        text_waveform,
    )

    w = text_waveform("one two three four five six seven eight " * 3)
    data = encode_mpeg1_layer1(w, rate=32000)
    frame_bytes = 12 * 448000 // 32000 * 4
    assert len(data) % frame_bytes == 0
    n_frames = len(data) // frame_bytes
    for f in range(n_frames):
        h = data[f * frame_bytes:f * frame_bytes + 4]
        assert h[0] == 0xFF and (h[1] & 0xE0) == 0xE0  # sync
        assert (h[1] >> 3) & 0x3 == 0x3  # MPEG-1
        assert 4 - ((h[1] >> 1) & 0x3) == 1  # Layer I
        assert (h[2] >> 4) == 14  # 448 kbps
        assert (h[2] >> 2) & 0x3 == 2  # 32 kHz
        assert (h[3] >> 6) == 0x3  # single channel
    meta = parse_media_header(data)
    assert meta is not None and meta["format"] == "mpeg_audio"
    assert meta["duration_s"] == round(n_frames * 384 / 32000.0, 3)


def test_mpeg1_layer1_rejects_non_layer1_and_garbage():
    from raptor_spark.operators.multimodal import (
        decode_audio_samples,
        encode_mpeg1_layer1,
        parse_media_header,
        text_waveform,
    )

    data = bytearray(
        encode_mpeg1_layer1(text_waveform("a b c d e f g " * 4), rate=32000)
    )
    # flip the layer bits to Layer II (01 -> layer 2 is bits 10): the frame
    # walk still sizes frames from the header tables, but sample decode
    # must refuse rather than guess at Layer II's allocation classes
    frame_bytes = 12 * 448000 // 32000 * 4
    for f in range(len(data) // frame_bytes):
        b1 = data[f * frame_bytes + 1]
        data[f * frame_bytes + 1] = (b1 & ~0x06) | 0x04  # layer bits 10
    assert decode_audio_samples(bytes(data)) is None
    # prose bytes never sniff as MPEG (utf-8 can't start 0xFF)
    assert parse_media_header(b"BMW makes cars " * 10) is None
    assert decode_audio_samples(b"\xff\xe0 garbage not frames") is None


def test_mpeg1_layer1_feature_pipeline_real(spark):
    """audio_dhash + extract_media_features consume Layer I payloads via
    the REAL decode path: fingerprints match the ones computed from the
    decoded samples directly, and media features carry the true duration."""
    import pandas as pd

    from raptor_spark.operators.multimodal import (
        audio_dhash,
        audio_fingerprint64,
        decode_audio_samples,
        encode_mpeg1_layer1,
        extract_media_features,
        text_waveform,
    )

    texts = ["red green blue cyan magenta yellow " * 4,
             "north south east west up down left right " * 4]
    payloads = [encode_mpeg1_layer1(text_waveform(t), rate=32000)
                for t in texts]
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, data binary",
    )
    got = {r.id: r.simhash for r in audio_dhash(media).collect()}
    for i, p in enumerate(payloads):
        samples, _ = decode_audio_samples(p)
        assert got[i] == audio_fingerprint64(samples)

    mf = spark.createDataFrame(
        [(str(i), "audio", "audio/mpeg", bytearray(p))
         for i, p in enumerate(payloads)],
        "media_id string, media_type string, mime string, data binary",
    )
    rows = {r.media_id: r for r in extract_media_features(mf).collect()}
    for i, p in enumerate(payloads):
        r = rows[str(i)]
        n_frames = len(p) // (12 * 448000 // 32000 * 4)
        assert r.error is None
        assert r.duration_s == round(n_frames * 384 / 32000.0, 3)
        samples, rate = decode_audio_samples(p)
        mono = samples[:, 0]
        rms = float(np.sqrt((mono * mono).mean()))
        assert abs(r.features[0] - round(rms, 6)) < 1e-9


def test_mpeg1_layer1_id3_wrapped_stream():
    """Real-world wrapping: ID3v2 head tag (synchsafe size) and ID3v1 tail
    block are skipped; the wrapped stream decodes identically to the bare
    one, and prose that merely starts with 'ID3' never sniffs as audio."""
    from raptor_spark.operators.multimodal import (
        decode_audio_samples,
        encode_mpeg1_layer1,
        parse_media_header,
        text_waveform,
    )

    core = encode_mpeg1_layer1(
        text_waveform("wrap me in tags please do it now " * 4), rate=32000
    )
    id3v2 = b"ID3\x03\x00\x00\x00\x00\x00\x14" + b"\x00" * 20
    wrapped = id3v2 + core + b"TAG" + b"\x00" * 125
    # ID3v2.4 footer flag (0x10): a 10-byte '3DI' footer follows the tag
    # body and is not counted in the synchsafe size
    footed = (b"ID3\x04\x00\x10\x00\x00\x00\x14" + b"\x00" * 20
              + b"3DI\x04\x00\x10\x00\x00\x00\x14" + core)
    s1, r1 = decode_audio_samples(core)
    for stream in (wrapped, footed):
        s2, r2 = decode_audio_samples(stream)
        assert r1 == r2 and np.array_equal(s1, s2)
        h = parse_media_header(stream)
        assert h is not None and h["format"] == "mpeg_audio"
    prose = b"ID3 tags are metadata containers " * 8
    assert decode_audio_samples(prose) is None
    assert parse_media_header(prose) is None
