"""Pure-stdlib image decoders (ops/imagecodec.py) + real-decode pHash
(ops/multimodal.py phash_image). Images are AUTHORED here with
stdlib-only encoders so every decode path — all five PNG filters,
color types, BMP row padding/flip, PNM headers — is exercised against
known pixels."""

import struct
import zlib

import pytest

from goose_parser_spark.ops.imagecodec import (
    decode_image_gray, resize_gray_box)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def _write_png(w, h, rows, color_type=0, filters=(0,)):
    """rows: h lists of pixel tuples/ints. Applies the given filter
    per scanline (cycling), encoding with the spec's predictors."""
    ch = {0: 1, 2: 3, 6: 4}[color_type]
    flat = []
    for row in rows:
        line = bytearray()
        for px in row:
            line += bytes(px if isinstance(px, tuple) else (px,))
        flat.append(bytes(line))
    raw = bytearray()
    prev = bytes(w * ch)
    for y, line in enumerate(flat):
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(len(line)):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    b if pb <= pc else c
            raw.append((line[x] - pred) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def _write_bmp(w, h, rgb_rows):
    step = 3
    stride = (w * step + 3) & ~3
    px = bytearray()
    for row in reversed(rgb_rows):  # bottom-up storage
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += bytes(stride - len(line))
        px += line
    off = 54
    head = (b"BM" + struct.pack("<IHHI", off + len(px), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(px), 2835, 2835, 0, 0))
    return head + bytes(px)


def _gray(r, g, b):
    return (299 * r + 587 * g + 114 * b + 500) // 1000


def test_png_gray_all_filters():
    rows = [[(13 * y + 7 * x) % 256 for x in range(9)] for y in range(7)]
    for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
        data = _write_png(9, 7, rows, color_type=0, filters=filters)
        w, h, px = decode_image_gray(data)
        assert (w, h) == (9, 7)
        assert px == [v for row in rows for v in row], filters


def test_png_rgb_rgba_and_grayscale_conversion():
    rows = [[(x * 40 % 256, y * 60 % 256, (x + y) * 30 % 256)
             for x in range(5)] for y in range(4)]
    data = _write_png(5, 4, rows, color_type=2, filters=(4,))
    w, h, px = decode_image_gray(data)
    assert px == [_gray(*p) for row in rows for p in row]
    rows4 = [[p + (255,) for p in row] for row in rows]
    data4 = _write_png(5, 4, rows4, color_type=6, filters=(3,))
    assert decode_image_gray(data4)[2] == px


def test_bmp_bottom_up_with_padding():
    rows = [[(x * 50 % 256, y * 80 % 256, 10) for x in range(3)]
            for y in range(5)]
    w, h, px = decode_image_gray(_write_bmp(3, 5, rows))
    assert (w, h) == (3, 5)
    assert px == [_gray(*p) for row in rows for p in row]


def test_pnm_formats():
    gray = bytes((x * 7 + y) % 256 for y in range(4) for x in range(6))
    pgm = b"P5\n# comment\n6 4\n255\n" + gray
    assert decode_image_gray(pgm) == (6, 4, list(gray))
    rgb = bytes(v for y in range(2) for x in range(3)
                for v in (x * 90, y * 100, 30))
    ppm = b"P6 3 2 255\n" + rgb
    w, h, px = decode_image_gray(ppm)
    assert px == [_gray(rgb[i], rgb[i + 1], rgb[i + 2])
                  for i in range(0, len(rgb), 3)]


def test_unsupported_formats_raise():
    with pytest.raises(ValueError):
        decode_image_gray(b"\xff\xd8\xff\xe0 jpeg-ish")
    with pytest.raises(ValueError):
        decode_image_gray(b"RIFF....WEBP")


def test_resize_box_average_exact():
    # 4x4 → 2x2: each output is the integer mean of a 2x2 box
    px = list(range(16))
    out = resize_gray_box(4, 4, px, 2, 2)
    assert out == [(0 + 1 + 4 + 5) // 4, (2 + 3 + 6 + 7) // 4,
                   (8 + 9 + 12 + 13) // 4, (10 + 11 + 14 + 15) // 4]
    with pytest.raises(ValueError):
        resize_gray_box(4, 4, px, 8, 8)


def _texture_rows(w, h, shift=0, scale_pct=100):
    """Two-blob texture (strong low-frequency structure — the image
    class pHash is built for), optionally brightness-shifted or
    contrast-scaled."""
    out = []
    for y in range(h):
        row = []
        for x in range(w):
            v = 40
            if (x - 8) ** 2 + (y - 10) ** 2 < 49:
                v = 220
            if (x - 22) ** 2 + (y - 24) ** 2 < 100:
                v = 160
            v = min(255, max(0, v * scale_pct // 100 + shift))
            row.append(v)
        out.append(row)
    return out


def test_phash_image_perceptual_and_poison(spark):
    """Real-decode pHash: brightness shift and mild contrast change
    land within a few bits (DC is discarded; AC signs survive), a
    structurally different image lands far, the same pixels hash
    identically across PNG and PGM containers, and undecodable
    payloads yield NULL."""
    from goose_parser_spark.ops.multimodal import phash_image
    w, h = 32, 32
    base_rows = _texture_rows(w, h)
    png = _write_png(w, h, base_rows, color_type=0, filters=(0, 2, 4))
    brighter = _write_png(w, h, _texture_rows(w, h, shift=12))
    softer = _write_png(w, h, _texture_rows(w, h, scale_pct=90))
    other = _write_png(w, h, [[(x * 37 + y * 11) % 256
                               for x in range(w)] for y in range(h)])
    pgm = (b"P5 32 32 255\n"
           + bytes(v for row in base_rows for v in row))
    rows = [(1, bytearray(png)), (2, bytearray(brighter)),
            (3, bytearray(other)), (4, bytearray(pgm)),
            (5, bytearray(b"\xff\xd8 not decodable")),
            (6, bytearray(softer)), (7, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r["phash"] for r in phash_image(df).collect()}
    assert out[5] is None
    assert out[7] is None  # NULL payload: a NULL hash row (I4)
    assert out[1] == out[4]  # same pixels, different container
    bright_bits = bin(out[1] ^ out[2]).count("1")
    soft_bits = bin(out[1] ^ out[6]).count("1")
    far_bits = bin(out[1] ^ out[3]).count("1")
    assert bright_bits <= 8 and soft_bits <= 8
    assert far_bits > 15


def _write_wav(samples, rate=16000, channels=1, bits=16):
    """Interleaved-sample RIFF/WAVE writer (stdlib only)."""
    if bits == 16:
        pcm = struct.pack("<%dh" % len(samples), *samples)
    else:
        pcm = bytes((s + 128) & 0xFF for s in samples)
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block,
                      block, bits)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_decode_16_and_8_bit_and_downmix():
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    mono = [0, 1000, -1000, 32767, -32768, 5]
    rate, ch, out = decode_audio_pcm(_write_wav(mono))
    assert (rate, ch, out) == (16000, 1, mono)
    # stereo: exact integer mean downmix (note -1001//2 floors)
    stereo = [100, 200, -1000, -1001, 7, 8]
    _, ch2, out2 = decode_audio_pcm(_write_wav(stereo, channels=2))
    assert ch2 == 2 and out2 == [150, (-1000 - 1001) // 2, 7]
    # 8-bit unsigned recentered to signed
    eight = [0, 127, -128, 64]
    _, _, out8 = decode_audio_pcm(_write_wav(eight, bits=8))
    assert out8 == eight


def _write_wav_g711(law_bytes: bytes, tag: int, rate=8000):
    """RIFF/WAVE wrapper around raw G.711 bytes (tag 6=A-law 7=mu)."""
    fmt = struct.pack("<HHIIHH", tag, 1, rate, rate, 1, 8)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(law_bytes)) + law_bytes)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_g711_known_table_values():
    """Pin the expansion against values from the public G.711 tables:
    zero codes, max-magnitude codes, segment-0 least step."""
    from goose_parser_spark.ops.imagecodec import (
        _alaw_to_linear, _ulaw_to_linear)
    # mu-law: 0xFF and 0x7F both encode silence; 0x00/-32124, 0x80/+32124
    assert _ulaw_to_linear(0xFF) == 0 and _ulaw_to_linear(0x7F) == 0
    assert _ulaw_to_linear(0x00) == -32124
    assert _ulaw_to_linear(0x80) == 32124
    # A-law: 0x55/-8 and 0xD5/+8 are the least-magnitude codes;
    # 0x2A/-32256, 0xAA/+32256 the extremes
    assert _alaw_to_linear(0x55) == -8 and _alaw_to_linear(0xD5) == 8
    assert _alaw_to_linear(0x2A) == -32256
    assert _alaw_to_linear(0xAA) == 32256


def test_g711_expansion_structure():
    """Structural properties over all 256 codes: odd outputs never
    appear in A-law (step ≥ 2 everywhere... actually min step is 8/16)
    — instead pin sign partitioning and per-segment monotonicity."""
    from goose_parser_spark.ops.imagecodec import (
        _alaw_to_linear, _ulaw_to_linear)
    for fn, zero_pos in ((_ulaw_to_linear, 0x80), (_alaw_to_linear, 0xD5)):
        vals = [fn(b) for b in range(256)]
        # every magnitude appears once positive and once negative
        pos = sorted(v for v in vals if v > 0)
        neg = sorted(-v for v in vals if v < 0)
        assert pos == neg
    # mu-law: positive codes are raw 0x80..0xFF, magnitude DECREASING
    # as the byte grows (0x80 = +32124 ... 0xFF = 0)
    mu_pos = [_ulaw_to_linear(b) for b in range(0xFF, 0x7F, -1)]
    assert mu_pos == sorted(mu_pos) and mu_pos[0] == 0
    a_pos = sorted(_alaw_to_linear(b) for b in range(256)
                   if _alaw_to_linear(b) > 0)
    assert len(set(a_pos)) == 128


def test_wav_g711_decode_paths():
    from goose_parser_spark.ops.imagecodec import (
        _alaw_to_linear, _ulaw_to_linear, decode_audio_pcm)
    raw = bytes(range(0, 256, 8))  # 32 codes
    rate, ch, mu = decode_audio_pcm(_write_wav_g711(raw, 7))
    assert (rate, ch) == (8000, 1)
    assert mu == [_ulaw_to_linear(b) for b in raw]
    _, _, al = decode_audio_pcm(_write_wav_g711(raw, 6))
    assert al == [_alaw_to_linear(b) for b in raw]


def test_wav_rejects_compressed_and_malformed():
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    with pytest.raises(ValueError):
        decode_audio_pcm(b"ID3\x03 mp3-ish payload")
    bad = bytearray(_write_wav([0, 1]))
    bad[20] = 85  # format tag 0x55 = MP3
    with pytest.raises(ValueError):
        decode_audio_pcm(bytes(bad))


def test_audio_frame_features_hand_computed():
    from goose_parser_spark.ops.imagecodec import audio_frame_features
    samples = [10, -10, 10, -10] + [0, 0, 100, 100]
    out = audio_frame_features(samples, frame=4)
    # frame 0: mean|.|=10, crossings at every step (3)
    # frame 1: mean|.|=50, one sign change? 0,0,100,100 -> (s<0) never
    assert out == [(10, 3), (50, 0)]
    assert audio_frame_features([1, 2], frame=4) == []


def test_audio_features_dataframe_and_poison(spark):
    from goose_parser_spark.ops.multimodal import audio_features
    loud = _write_wav([1000, -1000] * 400)       # 800 samples: 2 frames
    quiet = _write_wav([0] * 400)                # 1 silent frame
    rows = [(1, bytearray(loud)), (2, bytearray(quiet)),
            (3, bytearray(b"ID3 not wav"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {}
    for r in audio_features(df).collect():
        out.setdefault(r["doc_id"], []).append(r)
    assert len(out[1]) == 2
    assert all(r["energy"] == 1000 and r["zero_crossings"] == 399
               for r in out[1])
    assert out[2][0]["energy"] == 0 and out[2][0]["zero_crossings"] == 0
    assert out[1][0]["sample_rate"] == 16000
    p = out[3][0]
    assert p["frame_no"] == -1 and p["energy"] is None


def _write_jpeg_header(w, h):
    """JPEG prefix: SOI, APP0, DQT(skippable), SOF0 carrying dims."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 8
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    sof = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
           + struct.pack(">HH", h, w) + b"\x01\x11\x00")
    return b"\xff\xd8" + app0 + dqt + sof


def _mp4_box(btype, body):
    return struct.pack(">I", 8 + len(body)) + btype + body


def _write_mp4(duration_ms, w, h, timescale=1000):
    mvhd = (b"\x00" + b"\x00" * 3 + b"\x00" * 8
            + struct.pack(">II", timescale,
                          duration_ms * timescale // 1000)
            + b"\x00" * 80)
    tkhd = (b"\x00" + b"\x00" * 3 + b"\x00" * 72
            + struct.pack(">II", w << 16, h << 16))
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd)
                    + _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd)))
    return _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isom") + moov


def test_probe_media_all_formats():
    from goose_parser_spark.ops.imagecodec import probe_media
    assert probe_media(_write_jpeg_header(640, 480)) == \
        ("jpeg", 640, 480, None)
    assert probe_media(_write_png(9, 7, [[0] * 9] * 7)) == \
        ("png", 9, 7, None)
    assert probe_media(b"GIF89a" + struct.pack("<HH", 320, 200)
                       + b"\x00" * 4) == ("gif", 320, 200, None)
    assert probe_media(_write_bmp(3, 5, [[(0, 0, 0)] * 3] * 5)) == \
        ("bmp", 3, 5, None)
    # lossy WebP: VP8 chunk with 14-bit dims at offset 26
    vp8 = (b"RIFF" + struct.pack("<I", 30) + b"WEBPVP8 "
           + struct.pack("<I", 14) + b"\x00" * 6
           + struct.pack("<HH", 550, 368))
    assert probe_media(vp8) == ("webp", 550, 368, None)
    # 2 s of 16 kHz 16-bit mono = 64000 data bytes
    wav = _write_wav([0] * 32000)
    assert probe_media(wav) == ("wav", None, None, 2000)
    assert probe_media(_write_mp4(5500, 1920, 1080)) == \
        ("mp4", 1920, 1080, 5500)
    with pytest.raises(ValueError):
        probe_media(b"\x00\x01\x02 nothing")


def _lzw_encode(indices, mcs):
    """Standard GIF LZW encoder (greedy dict, late width change):
    written independently of the decoder's table-size rule so a
    width-sync bug cannot hide in mirrored logic."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    outb = bytearray()
    acc = nbits = 0
    width = mcs + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            outb.append(acc & 255)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w = ()
    for k in indices:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        w = (k,)
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        outb.append(acc & 255)
    return bytes(outb)


def _write_gif(w, h, indices, palette, mcs=8, interlaced=False,
               lzw=None):
    flags = 0xF0 | 7  # global palette, 256 entries
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    pal += bytes(3 * (256 - len(palette)))
    iflags = 0x40 if interlaced else 0
    lzw = _lzw_encode(indices, mcs) if lzw is None else lzw
    sub = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        sub += bytes((len(chunk),)) + chunk
    sub += b"\x00"
    return (b"GIF89a" + struct.pack("<HHBBB", w, h, flags, 0, 0)
            + bytes(pal)
            + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE extension
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
            + bytes((mcs,)) + bytes(sub) + b"\x3b")


def _uncompressed_lzw(indices, mcs=8):
    """Second, independent encoding: literal codes only, CLEAR before
    the table can grow past 9-bit codes (the classic 'uncompressed
    GIF' trick) — exercises the decoder without any dict entries."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    outb = bytearray()
    acc = nbits = 0
    width = mcs + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            outb.append(acc & 255)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for i, k in enumerate(indices):
        if i and i % 200 == 0:
            emit(clear)
        emit(k)
    emit(eoi)
    if nbits:
        outb.append(acc & 255)
    return bytes(outb)


def test_gif_lzw_roundtrip_and_uncompressed_agree():
    import random
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    rng = random.Random(99)
    palette = [(i, i, i) for i in range(256)]  # gray LUT == index
    w, h = 20, 13
    # repetitive content exercises dict growth incl. the KwKwK case
    idx = []
    while len(idx) < w * h:
        run = [rng.randrange(8)] * rng.randint(1, 9)
        idx.extend(run)
    idx = idx[:w * h]
    g1 = _write_gif(w, h, idx, palette)
    g2 = _write_gif(w, h, idx, palette,
                    lzw=_uncompressed_lzw(idx))
    assert decode_image_gray(g1) == (w, h, idx)
    assert decode_image_gray(g2) == (w, h, idx)


def test_gif_interlaced_and_color_palette():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 6, 9
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    idx = [(x + y) % 4 for y in range(h) for x in range(w)]
    plain = decode_image_gray(_write_gif(w, h, idx, palette))
    # interlaced storage: rows permuted into 8/8-4/4-2/1 pass order
    order = ([*range(0, h, 8)] + [*range(4, h, 8)]
             + [*range(2, h, 4)] + [*range(1, h, 2)])
    rows = [idx[y * w:(y + 1) * w] for y in range(h)]
    stored = [v for y in order for v in rows[y]]
    inter = decode_image_gray(_write_gif(w, h, stored, palette,
                                         interlaced=True))
    assert inter == plain
    lut = [_gray(*palette[v]) for v in idx]
    assert list(plain[2]) == lut


def test_gif_small_code_size_and_truncation():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    palette = [(0, 0, 0), (85, 85, 85), (170, 170, 170),
               (255, 255, 255)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0, 0, 0, 1, 1]
    out = decode_image_gray(_write_gif(4, 3, idx, palette, mcs=2))
    assert out == (4, 3, [_gray(*palette[v]) for v in idx])
    with pytest.raises(ValueError):
        decode_image_gray(b"GIF89a" + b"\x00" * 4)


def test_phash_gif_matches_png_same_pixels(spark):
    """The same pixels hash identically whether they arrive as GIF
    (LZW) or PNG (Flate) — container-independence of the real-decode
    pHash now covers the compressed palette path too."""
    from goose_parser_spark.ops.multimodal import phash_image
    w, h = 32, 32
    rows = _texture_rows(w, h)
    palette = [(i, i, i) for i in range(256)]
    gif = _write_gif(w, h, [v for r in rows for v in r], palette)
    png = _write_png(w, h, rows)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif))],
        "doc_id long, payload binary")
    out = {r["doc_id"]: r["phash"] for r in phash_image(df).collect()}
    assert out[1] == out[2]


def _write_tiff(w, h, pixels, rgb=False, big_endian=False,
                rows_per_strip=None):
    """Minimal baseline TIFF writer: uncompressed strips, 8-bit."""
    e = ">" if big_endian else "<"
    spp = 3 if rgb else 1
    flat = bytearray()
    for px in pixels:
        flat += bytes(px if isinstance(px, tuple) else (px,))
    rps = rows_per_strip or h
    strips = [bytes(flat[y * w * spp:(y + rps) * w * spp])
              for y in range(0, h, rps)]
    # layout: header(8) | strip data | ifd
    data_off = 8
    offsets, pos = [], data_off
    for sdat in strips:
        offsets.append(pos)
        pos += len(sdat)
    ifd_off = pos
    n_strips = len(strips)

    def entry(tag, typ, cnt, value_bytes):
        size = {3: 2, 4: 4}[typ] * cnt
        if size <= 4:
            return struct.pack(e + "HHI", tag, typ, cnt) + \
                value_bytes.ljust(4, b"\x00"), b""
        nonlocal extra_off
        out = struct.pack(e + "HHII", tag, typ, cnt, extra_off)
        extra_off += size
        return out, value_bytes

    # 9 entries; extra arrays (offsets/counts/bps) follow the IFD
    n_entries = 9
    extra_off = ifd_off + 2 + 12 * n_entries + 4
    u16 = lambda *v: struct.pack(e + "H" * len(v), *v)
    u32 = lambda *v: struct.pack(e + "I" * len(v), *v)
    entries, extras = [], []
    for tag, typ, cnt, vb in [
        (256, 3, 1, u16(w)), (257, 3, 1, u16(h)),
        (258, 3, spp, u16(*([8] * spp))),
        (259, 3, 1, u16(1)),
        (262, 3, 1, u16(1 if not rgb else 2)),
        (273, 4, n_strips, u32(*offsets)),
        (277, 3, 1, u16(spp)),
        (278, 3, 1, u16(rps)),
        (279, 4, n_strips, u32(*[len(s) for s in strips])),
    ]:
        ent, extra = entry(tag, typ, cnt, vb)
        entries.append(ent)
        extras.append(extra)
    head = (b"II*\x00" if not big_endian else b"MM\x00*") \
        + u32(ifd_off)
    ifd = u16(n_entries) + b"".join(entries) + u32(0)
    return head + bytes(flat) + ifd + b"".join(extras)


def test_tiff_gray_rgb_strips_and_endianness():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 7, 6
    gray = [(x * 11 + y * 3) % 256 for y in range(h) for x in range(w)]
    for be in (False, True):
        for rps in (None, 2):
            out = decode_image_gray(_write_tiff(w, h, gray,
                                                big_endian=be,
                                                rows_per_strip=rps))
            assert out == (w, h, gray), (be, rps)
    rgb = [((x * 30) % 256, (y * 50) % 256, 77)
           for y in range(h) for x in range(w)]
    out = decode_image_gray(_write_tiff(w, h, rgb, rgb=True))
    assert out == (w, h, [_gray(*p) for p in rgb])
    with pytest.raises(ValueError):
        decode_image_gray(b"II*\x00" + b"\x00" * 8)


def test_probe_media_tiff_and_gif_header_only():
    from goose_parser_spark.ops.imagecodec import probe_media
    t = _write_tiff(7, 6, [0] * 42)
    assert probe_media(t) == ("tiff", 7, 6, None)
    t_be = _write_tiff(7, 6, [0] * 42, big_endian=True)
    assert probe_media(t_be) == ("tiff", 7, 6, None)


def test_probe_media_mp3():
    from goose_parser_spark.ops.imagecodec import probe_media
    # MPEG1 Layer III, 128 kbps (idx 9), 44100 Hz (idx 0), no CRC:
    # 0xFF 0xFB 0x90 0x00
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 15996
    fmt, w, h, dur = probe_media(frame)
    assert (fmt, w, h) == ("mp3", None, None)
    assert dur == 16000 * 8 // 128  # = 1000 ms at 128 kbps
    # behind an ID3v2 tag (synchsafe size 0x00 0x00 0x02 0x01 = 257)
    id3 = b"ID3\x04\x00\x00\x00\x00\x02\x01" + b"\x00" * 257
    fmt2, _, _, dur2 = probe_media(id3 + frame)
    assert fmt2 == "mp3" and dur2 == dur
    # MPEG2.5 uses the low-rate table: idx 9 = 80 kbps
    v25 = bytes([0xFF, 0xE3, 0x90, 0x00]) + b"\x00" * 9996
    assert probe_media(v25)[3] == 10000 * 8 // 80
    # free-format (idx 0) recognized, duration unknown
    free = bytes([0xFF, 0xFB, 0x00, 0x00]) + b"\x00" * 100
    assert probe_media(free) == ("mp3", None, None, None)
    # invalid bitrate idx 15 / reserved version / Layer I are NOT mp3
    import pytest as _pytest
    for bad in (bytes([0xFF, 0xFB, 0xF0, 0x00]),   # bitrate 15
                bytes([0xFF, 0xEB, 0x90, 0x00]),   # reserved version
                bytes([0xFF, 0xFF, 0x90, 0x00])):  # Layer I
        with _pytest.raises(ValueError):
            probe_media(bad + b"\x00" * 64)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Independent test-side TIFF-LZW encoder (TIFF 6.0 §13 with the
    de-facto Aldus early change): MSB-first packing, Clear/EOI, width
    bumps when the count reaches 2^width — exactly one code earlier
    than the module's known-good GIF encoder (2^width + 1), mirroring
    libtiff's free_ent > MAXCODE(nbits)-1."""
    bits = []
    width = 9

    def emit(code):
        for i in range(width - 1, -1, -1):
            bits.append((code >> i) & 1)

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(256)
    w = b""
    for byte in data:
        c = w + bytes([byte])
        if c in table:
            w = c
            continue
        emit(table[w])
        table[c] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        w = bytes([byte])
        if next_code >= 4094:  # table nearly full: restart
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
    if w:
        emit(table[w])
    emit(257)
    out = bytearray((len(bits) + 7) // 8)
    for i, bit in enumerate(bits):
        out[i >> 3] |= bit << (7 - (i & 7))
    return bytes(out)


def _packbits_encode_runs(data: bytes) -> bytes:
    """Simple run-collapsing PackBits encoder (test-side)."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while (i + run < len(data) and run < 128
               and data[i + run] == data[i]):
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (j < len(data) and j - i < 128
                   and not (j + 1 < len(data)
                            and data[j] == data[j + 1])):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out)


def _compress_tiff(data: bytes, w, h, pixels, comp, predictor=1,
                   rgb=False, rows_per_strip=None):
    """Re-author a _write_tiff file with compressed strips: rewrites
    strip bytes, compression tag (259) and optionally predictor
    (317). Easier: rebuild from scratch using the same layout."""
    import zlib as _z
    e = "<"
    spp = 3 if rgb else 1
    flat = bytearray()
    for px in pixels:
        flat += bytes(px if isinstance(px, tuple) else (px,))
    if predictor == 2:
        stride = w * spp
        diff = bytearray(flat)
        for y in range(h):
            row = y * stride
            for x in range(stride - 1, spp - 1, -1):
                diff[row + x] = (flat[row + x] - flat[row + x - spp]) & 255
        flat = diff
    rps = rows_per_strip or h
    raw_strips = [bytes(flat[y * w * spp:(y + rps) * w * spp])
                  for y in range(0, h, rps)]
    fn = {5: _tiff_lzw_encode, 8: _z.compress,
          32773: _packbits_encode_runs}[comp]
    strips = [fn(s) for s in raw_strips]
    data_off = 8
    offsets, pos = [], data_off
    for sdat in strips:
        offsets.append(pos)
        pos += len(sdat)
    ifd_off = pos
    n_strips = len(strips)
    u16 = lambda *v: struct.pack(e + "H" * len(v), *v)  # noqa: E731
    u32 = lambda *v: struct.pack(e + "I" * len(v), *v)  # noqa: E731
    tag_list = [
        (256, 3, 1, u16(w)), (257, 3, 1, u16(h)),
        (258, 3, spp, u16(*([8] * spp))),
        (259, 3, 1, u16(comp)),
        (262, 3, 1, u16(1 if not rgb else 2)),
        (273, 4, n_strips, u32(*offsets)),
        (277, 3, 1, u16(spp)),
        (278, 3, 1, u16(rps)),
        (279, 4, n_strips, u32(*[len(s) for s in strips])),
    ]
    if predictor == 2:
        tag_list.append((317, 3, 1, u16(2)))
    tag_list.sort()
    n_entries = len(tag_list)
    extra_off = ifd_off + 2 + 12 * n_entries + 4
    entries, extras = [], []
    for tag, typ, cnt, vb in tag_list:
        size = {3: 2, 4: 4}[typ] * cnt
        if size <= 4:
            entries.append(struct.pack(e + "HHI", tag, typ, cnt)
                           + vb.ljust(4, b"\x00"))
            extras.append(b"")
        else:
            entries.append(struct.pack(e + "HHII", tag, typ, cnt,
                                       extra_off))
            extras.append(vb)
            extra_off += size
    head = b"II*\x00" + u32(ifd_off)
    ifd = u16(n_entries) + b"".join(entries) + u32(0)
    return head + b"".join(strips) + ifd + b"".join(extras)


@pytest.mark.parametrize("comp", [5, 8, 32773])
def test_tiff_compressed_strips(comp):
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 37, 11  # enough data to force LZW width growth
    gray = [(x * 7 + y * 13) % 256 for y in range(h) for x in range(w)]
    for rps in (None, 3):
        got = decode_image_gray(
            _compress_tiff(None, w, h, gray, comp, rows_per_strip=rps))
        assert got == (w, h, gray), (comp, rps)


def test_tiff_lzw_width_growth_roundtrip():
    from goose_parser_spark.ops.imagecodec import _tiff_lzw
    import random
    rng = random.Random(42)
    data = bytes(rng.randrange(256) for _ in range(5000))
    assert bytes(_tiff_lzw(_tiff_lzw_encode(data), len(data))) == data
    rle = bytes([7]) * 4000  # long run exercises prev+prev[:1] codes
    assert bytes(_tiff_lzw(_tiff_lzw_encode(rle), len(rle))) == rle


def test_tiff_horizontal_predictor():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 9, 4
    gray = [(x * 31 + y * 5) % 256 for y in range(h) for x in range(w)]
    got = decode_image_gray(
        _compress_tiff(None, w, h, gray, 8, predictor=2))
    assert got == (w, h, gray)
    rgb = [((x * 3) % 256, (y * 7) % 256, (x + y) % 256)
           for y in range(h) for x in range(w)]
    from goose_parser_spark.ops.imagecodec import _gray
    got2 = decode_image_gray(
        _compress_tiff(None, w, h, rgb, 5, predictor=2, rgb=True))
    assert got2 == (w, h, [_gray(*p) for p in rgb])


def _write_png2(w, h, samples, depth=8, color_type=0, palette=None,
                interlace=0):
    """Generic test-side PNG writer: any legal depth, optional
    palette, optional Adam7 interlace; filter 0 scanlines. `samples`
    is the flat per-pixel channel list (16-bit samples as 0..65535).
    """
    from goose_parser_spark.ops.imagecodec import _ADAM7
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]

    def pack_row(vals):
        if depth == 8:
            return bytes(vals)
        if depth == 16:
            return b"".join(struct.pack(">H", v) for v in vals)
        per = 8 // depth
        out = bytearray((len(vals) * depth + 7) // 8)
        for i, v in enumerate(vals):
            out[i // per] |= v << (8 - depth * (i % per + 1))
        return bytes(out)

    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for j in range(ph):
            y = y0 + j * dy
            vals = []
            for i in range(pw):
                x = x0 + i * dx
                vals.extend(samples[(y * w + x) * ch:(y * w + x) * ch + ch])
            raw.append(0)
            raw += pack_row(vals)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0,
                       interlace)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", b"".join(bytes(p) for p in palette))
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + _chunk(b"IEND", b"")


def test_png_sub_byte_depths():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 10, 4
    bits = [(x + y) % 2 for y in range(h) for x in range(w)]
    assert decode_image_gray(_write_png2(w, h, bits, depth=1)) == \
        (w, h, [b * 255 for b in bits])
    quads = [(x * 3 + y) % 4 for y in range(h) for x in range(w)]
    assert decode_image_gray(_write_png2(w, h, quads, depth=2)) == \
        (w, h, [v * 85 for v in quads])
    nibbles = [(x + 2 * y) % 16 for y in range(h) for x in range(w)]
    assert decode_image_gray(_write_png2(w, h, nibbles, depth=4)) == \
        (w, h, [v * 17 for v in nibbles])


def test_png_16bit_keeps_high_byte():
    from goose_parser_spark.ops.imagecodec import _gray, decode_image_gray
    w, h = 5, 3
    rgb16 = []
    for y in range(h):
        for x in range(w):
            rgb16 += [(x * 37) % 256 * 257, (y * 91) % 256 * 257,
                      ((x + y) * 17) % 256 * 257]
    exp = [_gray(rgb16[i] >> 8, rgb16[i + 1] >> 8, rgb16[i + 2] >> 8)
           for i in range(0, len(rgb16), 3)]
    got = decode_image_gray(_write_png2(w, h, rgb16, depth=16,
                                        color_type=2))
    assert got == (w, h, exp)


def test_png_adam7_matches_progressive_free():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 9, 9  # odd dims exercise empty/ragged Adam7 passes
    gray = [(x * 29 + y * 53) % 256 for y in range(h) for x in range(w)]
    plain = decode_image_gray(_write_png2(w, h, gray))
    inter = decode_image_gray(_write_png2(w, h, gray, interlace=1))
    assert plain == inter == (w, h, gray)
    # RGBA interlaced
    rgba = []
    for y in range(h):
        for x in range(w):
            rgba += [(x * 5) % 256, (y * 9) % 256, (x ^ y) % 256, 255]
    a = decode_image_gray(_write_png2(w, h, rgba, color_type=6))
    b = decode_image_gray(_write_png2(w, h, rgba, color_type=6,
                                      interlace=1))
    assert a == b


def test_png_palette_2bit_interlaced():
    from goose_parser_spark.ops.imagecodec import _gray, decode_image_gray
    pal = [(250, 10, 10), (10, 250, 10), (10, 10, 250), (128, 128, 0)]
    w, h = 11, 6
    idx = [(x + y) % 4 for y in range(h) for x in range(w)]
    exp = [_gray(*pal[i]) for i in idx]
    for il in (0, 1):
        got = decode_image_gray(_write_png2(
            w, h, idx, depth=2, color_type=3, palette=pal, interlace=il))
        assert got == (w, h, exp), il


def test_png_tiny_interlaced_single_pixel():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    # 1x1 interlaced: only pass 1 has content, all others empty
    assert decode_image_gray(_write_png2(1, 1, [77], interlace=1)) == \
        (1, 1, [77])


def test_probe_media_mp3_id3v24_footer():
    from goose_parser_spark.ops.imagecodec import probe_media
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 15996
    # ID3v2.4 with footer flag (0x10): 10-byte footer between tag
    # body and the first frame
    tag = (b"ID3\x04\x00\x10" + bytes((0, 0, 0, 4)) + b"\x00" * 4
           + b"3DI\x04\x00\x10" + bytes((0, 0, 0, 4)))
    fmt, _, _, dur = probe_media(tag + frame)
    assert fmt == "mp3" and dur == 1000


def test_probe_media_flac():
    from goose_parser_spark.ops.imagecodec import probe_media
    # STREAMINFO: header(4) + blocksizes(4) + framesizes(6) + packed
    # 64-bit word: rate 44100 | channels-1=1 | bps-1=15 | total samples
    total = 441000  # exactly 10 s at 44.1 kHz
    word = (44100 << 44) | (1 << 41) | (15 << 36) | total
    stream_info = (b"\x00\x00\x00\x22" + b"\x00" * 10
                   + word.to_bytes(8, "big") + b"\x00" * 16)
    fmt, w, h, dur = probe_media(b"fLaC" + stream_info)
    assert (fmt, w, h, dur) == ("flac", None, None, 10000)
    # zero total samples (streaming FLAC): duration unknown
    word0 = (44100 << 44) | (1 << 41) | (15 << 36)
    si0 = b"\x00\x00\x00\x22" + b"\x00" * 10 + word0.to_bytes(8, "big")
    assert probe_media(b"fLaC" + si0)[3] is None


def _ogg_page(granule, payload, seq=0, htype=0):
    segs = []
    rest = len(payload)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)
    return (b"OggS\x00" + bytes((htype,)) + struct.pack("<q", granule)
            + struct.pack("<III", 1, seq, 0) + bytes((len(segs),))
            + bytes(segs) + payload)


def test_probe_media_ogg_opus_and_vorbis():
    from goose_parser_spark.ops.imagecodec import probe_media
    opus_head = (b"OpusHead" + bytes((1, 1)) + struct.pack("<H", 312)
                 + struct.pack("<I", 48000) + b"\x00\x00\x00")
    data = (_ogg_page(0, opus_head)
            + _ogg_page(-1, b"\x00" * 10, seq=1)      # -1 granule skipped
            + _ogg_page(96000 + 312, b"\x00" * 4, seq=2))
    assert probe_media(data) == ("ogg-opus", None, None, 2000)
    vorb_id = (b"\x01vorbis" + struct.pack("<I", 0) + bytes((2,))
               + struct.pack("<I", 44100) + b"\x00" * 12
               + b"\xb8\x01")
    data_v = (_ogg_page(0, vorb_id)
              + _ogg_page(44100 * 3, b"\x00" * 4, seq=1))
    assert probe_media(data_v) == ("ogg-vorbis", None, None, 3000)
    # unknown codec: recognized as ogg, duration unknown
    assert probe_media(_ogg_page(0, b"Speex   hdr")) == \
        ("ogg", None, None, None)


def _ebml_el(eid: bytes, body: bytes) -> bytes:
    sz = len(body)
    if sz < 127:
        return eid + bytes((0x80 | sz,)) + body
    return eid + b"\x40" + struct.pack(">H", sz)[1:] + body \
        if sz < 16384 else eid + b"\x01" + sz.to_bytes(7, "big") + body


def test_probe_media_webm_and_mkv():
    from goose_parser_spark.ops.imagecodec import probe_media
    head = _ebml_el(b"\x1a\x45\xdf\xa3",
                    _ebml_el(b"\x42\x82", b"webm"))
    info = _ebml_el(b"\x15\x49\xa9\x66",
                    _ebml_el(b"\x2a\xd7\xb1", (1000000).to_bytes(3, "big"))
                    + _ebml_el(b"\x44\x89", struct.pack(">d", 12500.0)))
    video = _ebml_el(b"\xe0", _ebml_el(b"\xb0", (640).to_bytes(2, "big"))
                     + _ebml_el(b"\xba", (360).to_bytes(2, "big")))
    tracks = _ebml_el(b"\x16\x54\xae\x6b", _ebml_el(b"\xae", video))
    seg = _ebml_el(b"\x18\x53\x80\x67", info + tracks)
    fmt, w, h, dur = probe_media(head + seg)
    assert (fmt, w, h, dur) == ("webm", 640, 360, 12500)
    # unknown-size segment (streamed): all-ones size vint
    seg_stream = b"\x18\x53\x80\x67\xff" + info + tracks
    mkv_head = _ebml_el(b"\x1a\x45\xdf\xa3",
                        _ebml_el(b"\x42\x82", b"matroska"))
    fmt2, w2, h2, dur2 = probe_media(mkv_head + seg_stream)
    assert (fmt2, w2, h2, dur2) == ("mkv", 640, 360, 12500)


def test_probe_media_avif_and_mp4_brands():
    from goose_parser_spark.ops.imagecodec import probe_media

    def box(tag, body):
        return struct.pack(">I", len(body) + 8) + tag + body

    ispe = box(b"ispe", b"\x00\x00\x00\x00"
               + struct.pack(">II", 1200, 800))
    meta = box(b"meta", b"\x00\x00\x00\x00"
               + box(b"iprp", box(b"ipco", ispe)))
    avif = box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1") + meta
    assert probe_media(avif) == ("avif", 1200, 800, None)
    heic = box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1") + meta
    assert probe_media(heic)[0] == "heif"
    # plain mp4 still reports mp4 via mvhd (regression guard)
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", 1000, 42000) + b"\x00" * 80)
    mp4 = box(b"ftyp", b"isom\x00\x00\x00\x00isommp42") \
        + box(b"moov", mvhd)
    assert probe_media(mp4) == ("mp4", None, None, 42000)


# ---------------------------------------------------------------------------
# ICO / favicon decode (round-6 session 6)
# ---------------------------------------------------------------------------

def _wrap_ico(entries):
    """entries: list of (w, h, payload_bytes) — build an ICONDIR."""
    import struct as _st
    head = _st.pack("<HHH", 0, 1, len(entries))
    dir_bytes = b""
    off = 6 + 16 * len(entries)
    for w, h, payload in entries:
        dir_bytes += _st.pack("<BBBBHHII", w % 256, h % 256, 0, 0, 1,
                              32, len(payload), off)
        off += len(payload)
    return head + dir_bytes + b"".join(p for _, _, p in entries)


def test_ico_png_entry_decodes_and_largest_wins():
    import struct as _st

    from goose_parser_spark.ops.imagecodec import (
        decode_image_gray, probe_media)
    small = _write_png(4, 4, [[10] * 4 for _ in range(4)])
    big = _write_png(8, 8, [[(8 * y + x) * 3 % 256 for x in range(8)]
                            for y in range(8)])
    ico = _wrap_ico([(4, 4, small), (8, 8, big)])
    assert probe_media(ico)[:3] == ("ico", 8, 8)
    w, h, px = decode_image_gray(ico)
    assert (w, h) == (8, 8)
    assert px == decode_image_gray(big)[2]


def test_ico_dib_entry_matches_bmp_decoder():
    """A 24-bit DIB entry (headerless BMP with doubled height +
    AND mask) must decode to the same pixels as the BMP it came
    from."""
    import struct as _st

    from goose_parser_spark.ops.imagecodec import decode_image_gray
    w, h = 6, 4
    rgb = [[(x * 40 % 256, y * 60 % 256, (x ^ y) * 30 % 256)
            for x in range(w)] for y in range(h)]
    bmp = _write_bmp(w, h, rgb)
    # file header is 14 bytes; DIB follows
    dib = bytearray(bmp[14:])
    _st.pack_into("<i", dib, 8, h * 2)  # doubled height
    and_stride = ((w + 31) // 32) * 4
    dib += b"\x00" * (and_stride * h)   # all-opaque AND mask
    ico = _wrap_ico([(w, h, bytes(dib))])
    assert decode_image_gray(ico) == decode_image_gray(bmp)


def test_ico_real_world_idle_icon():
    """CPython's idlelib icon (PSF public data): 3 DIB entries + one
    256px PNG entry; the PNG wins as largest and must decode
    byte-identically to decoding that PNG alone."""
    import os
    p = "/root/.pyenv/versions/3.13.0/lib/python3.13/idlelib/Icons/idle.ico"
    if not os.path.exists(p):
        pytest.skip("idle.ico not present")
    import struct as _st

    from goose_parser_spark.ops.imagecodec import (
        decode_image_gray, probe_media)
    data = open(p, "rb").read()
    assert probe_media(data)[:3] == ("ico", 256, 256)
    w, h, px = decode_image_gray(data)
    assert (w, h) == (256, 256)
    # locate the PNG entry in the directory and decode it directly
    cnt = _st.unpack("<H", data[4:6])[0]
    for i in range(cnt):
        size, off = _st.unpack("<II", data[6 + 16 * i + 8:
                                          6 + 16 * i + 16])
        if data[off:off + 4] == b"\x89PNG"[:4]:
            assert px == decode_image_gray(data[off:off + size])[2]
            break
    else:
        raise AssertionError("no PNG entry found")


def test_ico_malformed_rejected():
    from goose_parser_spark.ops.imagecodec import decode_image_gray
    for blob in (b"\x00\x00\x01\x00", b"\x00\x00\x01\x00\x00\x00",
                 b"\x00\x00\x03\x00\x01\x00" + b"\x00" * 16):
        with pytest.raises(ValueError):
            decode_image_gray(blob)


# ---------------------------------------------------------------------------
# AIFF / AIFC / AU audio decode (round-6 session 6)
# ---------------------------------------------------------------------------

_AUDIO_DATA = ("/root/.pyenv/versions/3.11.7/lib/python3.11/"
               "test/audiodata/")


def _audio(name):
    import os
    p = _AUDIO_DATA + name
    if not os.path.exists(p):
        pytest.skip("CPython audiodata not present")
    return open(p, "rb").read()


def test_cross_container_pcm_identity():
    """CPython's pluck recording shipped as WAV, AIFF and AU must
    decode to IDENTICAL (rate, channels, samples) at 24/32-bit —
    three containers, three endianness/header conventions, one
    decoder contract."""
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    for depth in (24, 32):
        w = decode_audio_pcm(_audio(f"pluck-pcm{depth}.wav"))
        a = decode_audio_pcm(_audio(f"pluck-pcm{depth}.aiff"))
        u = decode_audio_pcm(_audio(f"pluck-pcm{depth}.au"))
        assert w == a == u
        assert w[0] == 11025 and w[1] == 2 and len(w[2]) == 3307


def test_cross_container_pcm16_within_source_rounding():
    """The 16-bit renditions were converted by different tools and
    genuinely differ by ±1 LSB in the FILES — the decoders must
    stay within that source rounding, never beyond."""
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    w = decode_audio_pcm(_audio("pluck-pcm16.wav"))
    a = decode_audio_pcm(_audio("pluck-pcm16.aiff"))
    u = decode_audio_pcm(_audio("pluck-pcm16.au"))
    assert w[:2] == a[:2] == u[:2]
    for other in (a, u):
        diffs = [abs(x - y) for x, y in zip(w[2], other[2])]
        # per-channel source rounding is ±1 LSB; the stereo downmix
        # can stack two of those plus floor asymmetry
        assert max(diffs) <= 4
        assert sum(1 for d in diffs if d <= 1) >= len(diffs) * 95 // 100


def test_cross_container_pcm8():
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    w = decode_audio_pcm(_audio("pluck-pcm8.wav"))
    a = decode_audio_pcm(_audio("pluck-pcm8.aiff"))
    u = decode_audio_pcm(_audio("pluck-pcm8.au"))
    assert w[:2] == a[:2] == u[:2]
    for other in (a, u):
        assert max(abs(x - y) for x, y in zip(w[2], other[2])) <= 1


def test_g711_containers_approximate_the_pcm():
    """pluck-ulaw/alaw decode through the G.711 expanders and must
    approximate the 16-bit PCM within the companding step (the top
    μ-law/A-law segment quantizes at ~1024 LSB of 16-bit scale)."""
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    ref = decode_audio_pcm(_audio("pluck-pcm16.wav"))[2]
    for name in ("pluck-ulaw.au", "pluck-ulaw.aifc",
                 "pluck-alaw.aifc"):
        got = decode_audio_pcm(_audio(name))[2]
        assert len(got) == len(ref)
        worst = max(abs(x - y) for x, y in zip(ref, got))
        assert worst <= 1024, (name, worst)


def test_aifc_sowt_little_endian_pcm():
    """An AIFC with the 'sowt' compression tag is little-endian
    PCM16 — authored by byte-swapping a real big-endian AIFF."""
    import struct as _st

    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    aiff = _audio("pluck-pcm16.aiff")
    ref = decode_audio_pcm(aiff)
    # walk chunks, rebuild as AIFC/sowt with swapped sample bytes
    pos = 12
    comm = ssnd = None
    while pos + 8 <= len(aiff):
        cid = aiff[pos:pos + 4]
        size = _st.unpack(">I", aiff[pos + 4:pos + 8])[0]
        body = aiff[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
    off = _st.unpack(">I", ssnd[:4])[0]
    pcm = ssnd[8 + off:]
    swapped = bytearray(pcm)
    swapped[0::2], swapped[1::2] = pcm[1::2], pcm[0::2]
    comm2 = comm[:18] + b"sowt" + b"\x00"
    ssnd2 = b"\x00" * 8 + bytes(swapped)
    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + _st.pack(">I", len(body)) + body + pad
    inner = b"AIFC" + chunk(b"COMM", comm2) + chunk(b"SSND", ssnd2)
    aifc = b"FORM" + _st.pack(">I", len(inner)) + inner
    assert decode_audio_pcm(aifc) == ref


def test_audio_probe_aiff_and_au():
    from goose_parser_spark.ops.imagecodec import probe_media
    fmt, _, _, dur = probe_media(_audio("pluck-pcm16.aiff"))
    assert fmt == "aiff" and dur == 3307 * 1000 // 11025
    fmt, _, _, dur = probe_media(_audio("pluck-pcm16.au"))
    assert fmt == "au" and abs(dur - 3307 * 1000 // 11025) <= 1


def test_audio_malformed_rejected():
    from goose_parser_spark.ops.imagecodec import decode_audio_pcm
    for blob in (b"FORM\x00\x00\x00\x04AIFF",
                 b".snd" + b"\x00" * 10,
                 b".snd" + bytes(20),
                 b"FORM\x00\x00\x00\x20AIFC" + b"\x00" * 24):
        with pytest.raises(ValueError):
            decode_audio_pcm(blob)
