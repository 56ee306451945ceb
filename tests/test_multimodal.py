"""Multimodal binary-column tests (SURVEY §2.11 L6, §2.1 S9).

Fixtures are hand-constructed PNG/WAV/JPEG container bytes — the
header parsers are real (plain byte slicing); only pixel/sample decode
is stubbed (fake=True surrogate), per the task contract.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from eventstreams_spark.operators.multimodal import (
    decode_image,
    dedup_media,
    parse_headers,
    read_media_dir,
    sample_frames,
    sniff_mime,
)


def make_png(width: int, height: int, bit_depth: int = 8) -> bytes:
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_data = struct.pack(">IIBBBBB", width, height, bit_depth, 2, 0, 0, 0)
    ihdr = (
        struct.pack(">I", len(ihdr_data))
        + b"IHDR"
        + ihdr_data
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_data))
    )
    return sig + ihdr + b"\x00" * 32


def make_wav(channels: int, rate: int, bits: int = 16) -> bytes:
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
                      channels * bits // 8, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + b"\x00" * 8
    return b"RIFF" + struct.pack("<I", len(body)) + body


JPEG = b"\xff\xd8\xff\xe0" + b"\x00" * 64


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "a.png").write_bytes(make_png(640, 480))
    (d / "b.png").write_bytes(make_png(64, 64, bit_depth=16))
    (d / "dup_of_a.png").write_bytes(make_png(640, 480))
    (d / "c.wav").write_bytes(make_wav(2, 44100))
    (d / "d.jpg").write_bytes(JPEG)
    (d / "junk.bin").write_bytes(b"\x00\x01\x02\x03" * 16)
    return str(d)


def test_binary_scan_and_sniff(spark, media_dir):
    df = sniff_mime(read_media_dir(spark, media_dir))
    got = {r.path.rsplit("/", 1)[-1]: r.mime for r in df.collect()}
    assert got["a.png"] == "image/png"
    assert got["b.png"] == "image/png"
    assert got["c.wav"] == "audio/wav"
    assert got["d.jpg"] == "image/jpeg"
    assert got["junk.bin"] is None
    # length comes from file metadata, not a content scan
    lens = {r.path.rsplit("/", 1)[-1]: r.length for r in df.collect()}
    assert lens["a.png"] == len(make_png(640, 480))


def test_parse_headers_png_wav(spark, media_dir):
    df = parse_headers(read_media_dir(spark, media_dir))
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    a = rows["a.png"]
    assert (a.width, a.height, a.bit_depth) == (640, 480, 8)
    assert a.channels is None and a.sample_rate is None
    b = rows["b.png"]
    assert (b.width, b.height, b.bit_depth) == (64, 64, 16)
    c = rows["c.wav"]
    assert (c.channels, c.sample_rate, c.bit_depth) == (2, 44100, 16)
    assert c.width is None
    assert rows["junk.bin"].width is None


def test_dedup_media_binary(spark, media_dir):
    df = dedup_media(read_media_dir(spark, media_dir))
    names = sorted(r.path.rsplit("/", 1)[-1] for r in df.collect())
    # a.png and dup_of_a.png are byte-identical: deterministic winner
    # is the lexicographically first path
    assert "a.png" in names and "dup_of_a.png" not in names
    assert len(names) == 5


def test_decode_image_fake_surrogate(spark, media_dir):
    df = decode_image(read_media_dir(spark, media_dir), size=(8, 8), fake=True)
    rows = df.collect()
    assert all(len(r.pixels) == 64 for r in rows)
    assert all(0.0 <= p <= 1.0 for r in rows for p in r.pixels)
    again = decode_image(read_media_dir(spark, media_dir), size=(8, 8), fake=True).collect()
    assert sorted(r.path for r in rows) == sorted(r.path for r in again)


def test_decode_image_real_path_is_stubbed(spark, media_dir):
    df = decode_image(read_media_dir(spark, media_dir), fake=False)
    with pytest.raises(Exception) as e:
        df.collect()
    assert "NotImplementedError" in str(e.value) or isinstance(
        e.value, NotImplementedError
    )


def test_sample_frames_fake(spark, media_dir):
    df = sample_frames(
        read_media_dir(spark, media_dir, glob="*.png"),
        every_n_bytes=16,
        max_frames=3,
        fake=True,
    )
    rows = df.collect()
    by_path: dict[str, list] = {}
    for r in rows:
        by_path.setdefault(r.path.rsplit("/", 1)[-1], []).append(r.frame_no)
    assert set(by_path) == {"a.png", "b.png", "dup_of_a.png"}
    for frames in by_path.values():
        assert frames and sorted(frames) == list(range(len(frames)))


def test_jpeg_sof_walker_edge_cases():
    """The JPEG marker walker must survive malformed streams: truncated
    segments, missing SOF, bogus lengths — nulls, never exceptions."""
    from eventstreams_spark.operators.multimodal import _parse_one

    app0 = bytes.fromhex("FFE000104A46494600010100000100010000")
    sof0 = bytes.fromhex("FFC00011" + "08" + "00F0" + "0140" + "03011100021101031101")
    good = b"\xff\xd8" + app0 + sof0 + b"data"
    assert _parse_one(good) == (320, 240, None, None, 8)
    # progressive SOF2 also recognized
    sof2 = bytes.fromhex("FFC20011" + "08" + "0010" + "0020" + "03011100021101031101")
    assert _parse_one(b"\xff\xd8" + app0 + sof2) == (32, 16, None, None, 8)
    # truncated right after APP0: no SOF -> all nulls
    assert _parse_one(b"\xff\xd8" + app0) == (None, None, None, None, None)
    # bogus zero segment length: walker stops, no infinite loop
    assert _parse_one(b"\xff\xd8\xff\xe0\x00\x00rest") == (None, None, None, None, None)
    # SOF marker but truncated dimensions
    assert _parse_one(b"\xff\xd8" + sof0[:6]) == (None, None, None, None, None)
    # garbage after SOI (no 0xFF marker alignment)
    assert _parse_one(b"\xff\xd8\xffZZZZZ") == (None, None, None, None, None)


def test_decode_ppm_blocks_exact_known_image(spark):
    """PPM decoder on a hand-built 8x8 gradient: header grammar,
    buffer reshape, and tile sums must be exact; malformed inputs
    raise loudly."""
    import pytest

    from eventstreams_spark.operators.multimodal import decode_ppm_blocks

    # 8x8 image, pixel (x, y) = (x, y, x+y): sums are closed-form
    body = bytes(
        v for y in range(8) for x in range(8) for v in (x, y, x + y)
    )
    df = spark.createDataFrame(
        [("img", b"P6\n8 8\n255\n" + body)], "path string, content binary"
    )
    rows = decode_ppm_blocks(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.width, r.height, r.by, r.bx, r.n_px) == (8, 8, 0, 0, 64)
    # sum_r = sum over 64 px of x = 8 * (0+..+7) = 224; same for y;
    # sum_b = sum of (x+y) = 448
    assert (r.sum_r, r.sum_g, r.sum_b) == (224, 224, 448)

    bad = spark.createDataFrame(
        [("x", b"P5\n8 8\n255\n" + body)], "path string, content binary"
    )
    with pytest.raises(Exception, match="P6"):
        decode_ppm_blocks(bad).collect()
    short = spark.createDataFrame(
        [("y", b"P6\n8 8\n255\n" + body[:10])], "path string, content binary"
    )
    with pytest.raises(Exception, match="short pixel buffer"):
        decode_ppm_blocks(short).collect()


def test_decode_wav_windows_chunk_walk_and_exact_energy(spark):
    """WAV decoder: RIFF chunk WALK must skip unknown chunks (a LIST
    chunk before fmt/data still parses); int16 LE signedness and the
    window energy fold are exact on a hand-built ramp; non-PCM raises."""
    import struct

    import pytest

    from eventstreams_spark.operators.multimodal import decode_wav_windows

    vals = [-2, -1, 0, 1, 2, 3]  # ssq = 4+1+0+1+4+9 = 19, peak = 3
    data = b"".join(struct.pack("<h", v) for v in vals)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    wav = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + junk
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame([("a", wav)], "path string, content binary")
    rows = decode_wav_windows(df, window=4).collect()
    got = sorted((r.win, r.n_samples, r.ssq, r.peak) for r in rows)
    # windows of 4: [-2,-1,0,1] ssq 6 peak 2; [2,3] ssq 13 peak 3
    assert got == [(0, 4, 6, 2), (1, 2, 13, 3)]
    assert rows[0].sample_rate == 8000

    alaw = struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8)
    bad = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(alaw)) + alaw
        + b"data" + struct.pack("<I", 0) + b""
    )
    bdf = spark.createDataFrame([("b", bad)], "path string, content binary")
    with pytest.raises(Exception, match="PCM mono 16-bit"):
        decode_wav_windows(bdf).collect()


def test_png_paeth_and_average_spec_vectors():
    """Pin the Paeth predictor to the spec algorithm by hand-worked
    vectors (nearest of a/b/c to p = a+b-c, ties a then b then c) —
    rules out encoder/decoder shared-predictor cancellation."""
    from eventstreams_spark.operators.multimodal import _paeth

    assert _paeth(0, 0, 0) == 0
    # p = 10+20-5 = 25 -> |25-10|=15, |25-20|=5, |25-5|=20 -> up
    assert _paeth(10, 20, 5) == 20
    # p = 100+50-60 = 90 -> pa 10, pb 40, pc 30 -> left
    assert _paeth(100, 50, 60) == 100
    # ties: p = 4+4-4 = 4 -> pa=pb=pc=0 -> a wins
    assert _paeth(4, 4, 4) == 4
    # pa == pb < pc: p = 3+5-4 = 4 -> pa 1, pb 1, pc 0 -> c smallest
    assert _paeth(3, 5, 4) == 4
    # pb == pc tie prefers b: p = 9+6-6 = 9 -> pa 0 -> a
    assert _paeth(9, 6, 6) == 9


def test_png_unfilter_each_type_roundtrip():
    """Encode a 2x2 RGB image with each filter type using an inline
    spec-faithful encoder, and assert _png_unfilter reconstructs the
    exact raw bytes."""
    from eventstreams_spark.operators.multimodal import (
        _paeth,
        _png_unfilter,
    )

    w, h = 2, 2
    raw = [10, 200, 30, 250, 5, 90, 7, 120, 255, 60, 61, 62]
    stride = w * 3
    for ft in range(5):
        enc = bytearray()
        for y in range(h):
            row = raw[y * stride : (y + 1) * stride]
            prior = raw[(y - 1) * stride : y * stride] if y else [0] * stride
            enc.append(ft)
            for i in range(stride):
                left = row[i - 3] if i >= 3 else 0
                up = prior[i]
                ul = prior[i - 3] if i >= 3 else 0
                pred = [0, left, up, (left + up) >> 1,
                        _paeth(left, up, ul)][ft]
                enc.append((row[i] - pred) & 0xFF)
        got = list(_png_unfilter(bytes(enc), w, h))
        assert got == raw, ft


def test_decode_png_blocks_crc_and_subset_guards(spark):
    """PNG decoder: a flipped IDAT byte must fail the CRC check; a
    16-bit-depth IHDR must raise NotImplementedError."""
    import struct
    import zlib

    import pytest

    from eventstreams_spark.operators.multimodal import decode_png_blocks

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytes([0, 1, 2, 3, 4, 5, 6]) + bytes([0, 7, 8, 9, 10, 11, 12])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([("a", png)], "path string, content binary")
    rows = decode_png_blocks(df).collect()
    # pixels (1,2,3),(4,5,6),(7,8,9),(10,11,12): sum_r = 1+4+7+10
    assert rows[0].n_px == 4 and rows[0].sum_r == 22

    corrupt = bytearray(png)
    corrupt[40] ^= 0xFF  # inside IDAT payload
    bdf = spark.createDataFrame(
        [("b", bytes(corrupt))], "path string, content binary"
    )
    with pytest.raises(Exception, match="CRC"):
        decode_png_blocks(bdf).collect()

    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    png16 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b"")
    )
    cdf = spark.createDataFrame(
        [("c", png16)], "path string, content binary"
    )
    with pytest.raises(Exception, match="8-bit RGB"):
        decode_png_blocks(cdf).collect()


def test_lzw_decode_hand_derived_bit_goldens():
    """Bit-level LZW goldens derived BY HAND from the GIF spec
    (min_code_size 2; codes clear=4/eoi=5; LSB-first packing):
    [0,1,1,0] encodes as clear(3b) 0(3b) 1(3b) 1(4b — the encoder
    widened after filling slot 7) 0(4b) eoi(4b) = 0x44 0x02 0x0A;
    [0,0,0] exercises KwKwK (code == next slot) = 0x84 0x0B."""
    from eventstreams_spark.operators.multimodal import _lzw_decode

    assert _lzw_decode(bytes([0x44, 0x02, 0x0A]), 2) == [0, 1, 1, 0]
    assert _lzw_decode(bytes([0x84, 0x0B]), 2) == [0, 0, 0]


def test_lzw_decode_clear_resets_and_errors():
    import pytest

    from eventstreams_spark.operators.multimodal import _lzw_decode

    def pack(codes_widths):
        acc = nb = 0
        out = bytearray()
        for c, w in codes_widths:
            acc |= c << nb
            nb += w
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    # clear 0 1 (adding slot 7 widens to 4) CLEAR-at-4-bits resets to
    # 3 bits, then 1 0 eoi: the mid-stream reset must rewind width
    stream = pack([(4, 3), (0, 3), (1, 3), (4, 4), (1, 3), (0, 3), (5, 3)])
    assert _lzw_decode(stream, 2) == [0, 1, 1, 0]
    with pytest.raises(ValueError, match="without EOI"):
        _lzw_decode(pack([(4, 3), (0, 3), (1, 3)]), 2)
    with pytest.raises(ValueError, match="beyond table"):
        _lzw_decode(pack([(4, 3), (0, 3), (7, 3)]), 2)


def test_decode_gif_blocks_walks_extensions_and_guards(spark):
    """GIF decoder: a 2x2 2-color GIF with a comment extension and a
    hand-packed uncompressed-style LZW stream decodes exactly;
    interlaced flag raises."""
    import struct

    import pytest

    from eventstreams_spark.operators.multimodal import decode_gif_blocks

    palette = bytes((0, 0, 0)) + bytes((255, 128, 64)) + bytes(6)
    # indices [0,1,1,0] -> the hand golden stream 0x44 0x02 0x0A
    sub = bytes([3, 0x44, 0x02, 0x0A, 0])
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0)  # GCT, 4 entries
        + palette  # 4 x 3 bytes (two real colors + two zero entries)
        + b"\x21\xfe\x02hi\x00"  # comment extension
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2]) + sub
        + b"\x3b"
    )
    df = spark.createDataFrame([("g", gif)], "path string, content binary")
    rows = decode_gif_blocks(df).collect()
    assert len(rows) == 1
    r = rows[0]
    # pixels: idx [0,1,1,0] -> colors (0,0,0),(255,128,64) x2,(0,0,0)
    assert (r.n_px, r.sum_r, r.sum_g, r.sum_b) == (4, 510, 256, 128)

    interlaced = bytearray(gif)
    pos = gif.index(b"\x2c")
    interlaced[pos + 9] |= 0x40
    bdf = spark.createDataFrame(
        [("i", bytes(interlaced))], "path string, content binary"
    )
    with pytest.raises(Exception, match="interlaced"):
        decode_gif_blocks(bdf).collect()


def test_decode_bmp_blocks_padding_flip_and_bgr(spark):
    """BMP decoder on a 3x2 image (stride pads 9 -> 12 bytes): must
    flip bottom-up rows, swap BGR to RGB, and skip the pad bytes; a
    32-bit BMP raises."""
    import struct

    import pytest

    from eventstreams_spark.operators.multimodal import decode_bmp_blocks

    w, h = 3, 2
    # logical top-down RGB pixels: row0 = (1,2,3),(4,5,6),(7,8,9)
    #                              row1 = (10,11,12),(13,14,15),(16,17,18)
    logical = [
        [(1, 2, 3), (4, 5, 6), (7, 8, 9)],
        [(10, 11, 12), (13, 14, 15), (16, 17, 18)],
    ]
    body = bytearray()
    for yy in (1, 0):  # bottom-up on disk
        for (r, g, b) in logical[yy]:
            body += bytes((b, g, r))  # BGR on disk
        body += bytes(12 - 9)  # pad stride to 12
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    bmp = bytes(hdr + info + body)
    df = spark.createDataFrame([("b", bmp)], "path string, content binary")
    rows = decode_bmp_blocks(df).collect()
    assert len(rows) == 1
    r0 = rows[0]
    # sums over all 6 px in logical RGB order
    assert (r0.sum_r, r0.sum_g, r0.sum_b) == (
        1 + 4 + 7 + 10 + 13 + 16,
        2 + 5 + 8 + 11 + 14 + 17,
        3 + 6 + 9 + 12 + 15 + 18,
    )
    assert (r0.width, r0.height, r0.n_px) == (3, 2, 6)

    info32 = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, 0, 0, 0, 0, 0)
    bad = bytes(hdr + info32 + body)
    bdf = spark.createDataFrame([("c", bad)], "path string, content binary")
    with pytest.raises(Exception, match="24-bit"):
        decode_bmp_blocks(bdf).collect()


def test_spread_for_python_guard(spark):
    """_spread_for_python (the mint-chain guard, r11): a frame whose
    scan parallelism is below the session's cores is round-robin
    repartitioned to defaultParallelism so the Python mint/decode
    stage doesn't serialize onto one worker; an already-parallel
    frame passes through untouched (the cluster-scan case must pay
    nothing)."""
    from eventstreams_spark.queries.longtail import _spread_for_python

    par = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i,) for i in range(64)], "doc_id long"
    ).coalesce(1)
    spread = _spread_for_python(narrow)
    assert spread.rdd.getNumPartitions() == par
    if par >= 2:  # on one core the 1-partition frame is already spread
        assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()
    # row set is partitioning-independent
    assert sorted(r.doc_id for r in spread.collect()) == list(range(64))

    wide = spark.range(0, 64).repartition(par)
    assert _spread_for_python(wide) is wide
