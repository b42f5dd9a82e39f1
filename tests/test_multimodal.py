"""Multimodal decode: container sniffing, pixel and sample decoders,
and the Arrow-batched decode tiers over binary columns."""

from __future__ import annotations

from pyspark.sql import types as T

from geoestate_etl_spark.operators.multimodal import decode_media_real


def test_sniff_media_parses_real_containers():
    """Pure-Python header parse of genuinely valid files."""
    from geoestate_etl_spark.operators.multimodal import (
        make_bmp,
        make_png,
        make_wav,
        sniff_media,
    )

    png = sniff_media(make_png(17, 9))
    assert (png["format"], png["width"], png["height"], png["n_channels"]) == (
        "png", 17, 9, 1,
    )
    bmp = sniff_media(make_bmp(33, 21))
    assert (bmp["format"], bmp["width"], bmp["height"], bmp["n_channels"]) == (
        "bmp", 33, 21, 3,
    )
    wav = sniff_media(make_wav(11000, 2, 77))
    assert (
        wav["format"], wav["n_channels"], wav["sample_rate"], wav["n_frames"],
    ) == ("wav", 2, 11000, 77)
    gif = sniff_media(b"GIF89a" + (640).to_bytes(2, "little") + (480).to_bytes(2, "little"))
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 640, 480)
    # garbage and truncation are data, not crashes
    assert sniff_media(b"")["format"] == "unknown"
    assert sniff_media(b"\x89PNG\r\n\x1a\nIHD")["format"] == "unknown"
    assert sniff_media(b"RIFFxxxxWAVE")["format"] == "unknown"


def test_sniff_jpeg_sof_markers():
    """JPEG marker walk (r5): baseline SOF0 from a fully valid file,
    progressive SOF2 from a spec-shaped header, graceful truncation."""
    import struct

    from geoestate_etl_spark.operators.multimodal import make_jpeg, sniff_media

    j = sniff_media(make_jpeg(37, 22))
    assert (j["format"], j["width"], j["height"], j["n_channels"], j["n_frames"]) == (
        "jpeg", 37, 22, 1, 1,
    )
    # progressive (SOF2) 3-component frame header behind a COM segment:
    # the walk must skip non-SOF segments by their length fields
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    sof2 = (
        b"\xff\xc2"
        + struct.pack(">H", 17)
        + struct.pack(">BHHB", 8, 1080, 1920, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    p = sniff_media(b"\xff\xd8" + com + sof2)
    assert (p["format"], p["width"], p["height"], p["n_channels"]) == (
        "jpeg", 1920, 1080, 3,
    )
    # truncation before/inside SOF: jpeg detected or unknown, no crash
    for cut in (2, 3, 6, len(com) + 4):
        sniff_media((b"\xff\xd8" + com + sof2)[:cut])
    # DHT (0xC4) must NOT be mistaken for a frame header
    dht_only = b"\xff\xd8" + b"\xff\xc4" + struct.pack(">H", 5) + b"\x00\x00\x00"
    assert sniff_media(dht_only)["width"] is None


def test_png_is_fully_valid_zlib_stream():
    """The generated PNG's IDAT decompresses to exact scanline bytes —
    it is a complete image file, not just a plausible header."""
    import struct
    import zlib

    from geoestate_etl_spark.operators.multimodal import make_png

    b = make_png(5, 3)
    # walk chunks to find IDAT
    pos, idat = 8, b""
    while pos + 8 <= len(b):
        size = struct.unpack(">I", b[pos : pos + 4])[0]
        tag = b[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += b[pos + 8 : pos + 8 + size]
        assert zlib.crc32(b[pos + 4 : pos + 8 + size]) == struct.unpack(
            ">I", b[pos + 8 + size : pos + 12 + size]
        )[0]
        pos += 12 + size
    raw = zlib.decompress(idat)
    assert len(raw) == 3 * (1 + 5)  # height * (filter byte + width)


def test_decode_media_real_roundtrip(spark):
    """attach_real_media → decode_media_real recovers the exact
    planted parameters for every row and format."""
    from geoestate_etl_spark.operators.multimodal import (
        attach_real_media,
        decode_media_real,
    )

    ids = spark.createDataFrame([(i,) for i in range(70)], ["doc_id"])
    out = {
        r.media_id: r
        for r in decode_media_real(attach_real_media(ids, "doc_id")).collect()
    }
    assert len(out) == 70
    for i in range(70):
        r = out[i]
        if i % 7 == 0:
            assert (r.format, r.width, r.height, r.n_channels, r.n_frames) == (
                "png", i % 64 + 1, i % 48 + 1, 1, 1,
            )
        elif i % 7 == 1:
            assert (r.format, r.width, r.height, r.n_channels, r.n_frames) == (
                "bmp", i % 64 + 1, i % 48 + 1, 3, 1,
            )
        elif i % 7 == 2:
            assert (r.format, r.n_channels, r.sample_rate, r.n_frames) == (
                "wav", i % 2 + 1, 8000 + (i % 8) * 1000, i % 100 + 1,
            )
        elif i % 7 == 3:
            if i % 14 == 10:  # r7: avc1 I_PCM track (operators/h264.py)
                assert (
                    r.format, r.width, r.height, r.sample_rate, r.n_frames
                ) == ("mp4", 2 * (i % 17) + 16, 2 * (i % 9) + 16, 1000,
                      (i % 3 + 2) * 100)
            else:
                assert (
                    r.format, r.width, r.height, r.sample_rate, r.n_frames
                ) == ("mp4", i % 128 + 16, i % 96 + 16, 1000 * (i % 5 + 1),
                      i % 5000 + 1)
        elif i % 7 == 4:
            assert (r.format, r.width, r.height, r.n_channels, r.n_frames) == (
                "jpeg", i % 64 + 1, i % 48 + 1, 1, 1,
            )
        elif i % 7 == 5:
            assert (r.format, r.width, r.height, r.n_channels, r.n_frames) == (
                "gif", i % 64 + 1, i % 48 + 1, 3, 1,
            )
        else:  # avi: fps decoded into sample_rate, true frame count
            assert (
                r.format, r.width, r.height, r.n_channels,
                r.sample_rate, r.n_frames,
            ) == ("avi", i % 16 + 4, i % 12 + 4, 3, i % 10 + 5, i % 8 + 2)
        assert r.n_bytes > 40


def test_embed_media_feeds_similarity_tier(spark, tmp_path):
    """Multimodal -> embedding -> ANN composition: binary files embed
    deterministically (content-addressed), identical payloads dedup to
    cosine 1.0, and the column plugs into ivf_build unchanged."""
    from geoestate_etl_spark.operators.multimodal import embed_media_stub, make_png
    from geoestate_etl_spark.operators.similarity import ivf_build, ivf_probe
    from geoestate_etl_spark.sources.binary_source import (
        media_table,
        read_binary_files,
    )

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.png").write_bytes(make_png(8, 6))
    (d / "b.png").write_bytes(make_png(8, 6))     # identical bytes to a
    (d / "c.png").write_bytes(make_png(32, 24))
    (d / "skip.txt").write_bytes(b"not media")
    media = media_table(read_binary_files(spark, str(d), glob="*.png"))
    emb = embed_media_stub(media)
    rows = {r.media_id: r.embedding for r in emb.collect()}
    assert len(rows) == 3
    ids_by_path = {
        r.source_path.rsplit("/", 1)[-1]: r.media_id for r in media.collect()
    }
    assert rows[ids_by_path["a.png"]] == rows[ids_by_path["b.png"]]  # content-addressed
    assert rows[ids_by_path["a.png"]] != rows[ids_by_path["c.png"]]

    # and the embedding column is similarity-tier-ready as-is
    a, b = ids_by_path["a.png"], ids_by_path["b.png"]
    assigned, cents = ivf_build(emb, n_cells=2, id_col="media_id")
    top = ivf_probe(
        assigned, cents, [float(x) for x in rows[a]], k=2, n_probe=2,
        id_col="media_id",
    )
    hits = {r.media_id: r.cos_sim for r in top.collect()}
    assert hits == {a: 1.0, b: 1.0}  # exact dup media


def test_sniff_mp4_box_walk():
    """The ISO BMFF walk recovers mvhd timescale/duration and tkhd
    16.16 visual dims; truncation degrades to unknown, never raises."""
    from geoestate_etl_spark.operators.multimodal import make_mp4, sniff_media

    m = sniff_media(make_mp4(640, 360, 30000, 90000))
    assert m["format"] == "mp4"
    assert (m["width"], m["height"]) == (640, 360)
    assert (m["sample_rate"], m["n_frames"]) == (30000, 90000)
    trunc = sniff_media(make_mp4(640, 360, 30000, 90000)[:20])
    assert trunc["format"] == "unknown"


def test_png_bmp_wav_content_decoders_pure():
    """r5 content tier, pure-Python checks: PNG zlib+unfilter decode
    (all five filter types), BMP bottom-up row decode, WAV int16 PCM
    decode — each against the generator's known planted values."""
    import struct
    import zlib

    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        _encode_gray_png,
        bmp_pixels,
        make_bmp,
        make_png,
        make_wav,
        png_pixels,
        wav_samples,
    )

    px = png_pixels(make_png(17, 9))
    want = np.array(
        [[(x + y) % 256 for x in range(17)] for y in range(9)], dtype=np.uint8
    )[..., None]
    assert (px == want).all()

    # BMP stores rows bottom-up: decoded row 0 is the generator's last
    px = bmp_pixels(make_bmp(13, 7))
    wantb = np.array(
        [[[(x * 3 + c + y) % 256 for c in range(3)] for x in range(13)]
         for y in range(7)],
        dtype=np.uint8,
    )
    assert (px == wantb[::-1]).all()

    s = wav_samples(make_wav(16000, 2, 40))
    ws = np.array([(i * 257) % 32768 - 16384 for i in range(80)], dtype=np.int16)
    assert (s == ws).all()

    # a PNG using every filter type (0-4) must reconstruct exactly
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    raws, prev = [], np.zeros(24, dtype=np.uint8)
    for y in range(6):
        line = img[y].reshape(-1).astype(np.int16)
        f = y % 5
        a = np.zeros_like(line); a[3:] = line[:-3]
        bb = prev.astype(np.int16)
        c = np.zeros_like(line); c[3:] = bb[:-3]
        if f == 0:
            enc = line
        elif f == 1:
            enc = (line - a) % 256
        elif f == 2:
            enc = (line - bb) % 256
        elif f == 3:
            enc = (line - (a + bb) // 2) % 256
        else:
            pred = np.zeros_like(line)
            for i in range(len(line)):
                p = int(a[i]) + int(bb[i]) - int(c[i])
                pa, pb, pc = abs(p - a[i]), abs(p - bb[i]), abs(p - c[i])
                pred[i] = a[i] if (pa <= pb and pa <= pc) else (
                    bb[i] if pb <= pc else c[i]
                )
            enc = (line - pred) % 256
        raws.append(bytes([f]) + bytes(enc.astype(np.uint8)))
        prev = line.astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", 8, 6, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(raws))) + chunk(b"IEND", b"")
    )
    assert (png_pixels(png) == img).all()

    # grayscale re-encode roundtrip (the resize writer)
    g = rng.integers(0, 256, size=(5, 11), dtype=np.uint8)
    assert (png_pixels(_encode_gray_png(g))[:, :, 0] == g).all()

    # undecodables are data, not crashes
    assert png_pixels(b"junk") is None
    assert bmp_pixels(b"xx") is None
    assert wav_samples(b"") is None


def test_decode_media_content_roundtrip(spark):
    """attach_real_media → decode_media_content recovers the exact
    planted pixel/sample statistics for every decodable row — since r6
    that includes baseline JPEG (real entropy decode); since r7 the
    doc_id%14==10 MP4 rows decode too (avc1 I_PCM bitstream); the
    metadata-only MP4 rows keep NULL stats (entropy codecs closed)."""
    from geoestate_etl_spark.operators.multimodal import (
        attach_real_media,
        decode_media_content,
    )

    ids = spark.createDataFrame([(i,) for i in range(49)], ["doc_id"])
    out = {
        r.media_id: r
        for r in decode_media_content(attach_real_media(ids, "doc_id")).collect()
    }
    assert len(out) == 49
    for i in range(49):
        r, w, h = out[i], i % 64 + 1, i % 48 + 1
        if i % 7 == 0:  # png: values x+y, never wrapping at these sizes
            assert (r.n_px, r.px_sum, r.px_max) == (
                w * h, w * h * (w + h - 2) // 2, w + h - 2,
            )
            assert r.n_samples is None
        elif i % 7 == 1:  # bmp: row bytes t+y, t in 0..3w-1
            assert (r.n_px, r.px_sum, r.px_max) == (
                w * h * 3,
                h * (3 * w) * (3 * w - 1) // 2 + 3 * w * h * (h - 1) // 2,
                3 * w + h - 2,
            )
        elif i % 7 == 2:  # wav: samples (i*257)%32768-16384
            n = (i % 2 + 1) * (i % 100 + 1)
            samples = [(j * 257) % 32768 - 16384 for j in range(n)]
            assert (r.n_samples, r.pcm_sq_sum, r.pcm_peak) == (
                n, sum(s * s for s in samples), max(abs(s) for s in samples),
            )
            assert r.n_px is None
        elif i % 7 == 5:  # gif: palette (10i,20i,30i), index x%4
            s_w = 6 * (w // 4) + [0, 0, 1, 3][w % 4]
            assert (r.n_px, r.px_sum, r.px_max) == (
                w * h * 3, h * 60 * s_w, 30 * min(3, w - 1),
            )
            assert r.n_samples is None
        elif i % 7 == 6:  # avi: DIB (even ids) or MJPEG (odd, r6)
            w2, h2, vf = i % 16 + 4, i % 12 + 4, i % 8 + 2
            if i % 14 == 13:  # mjpeg: frame f, block m → 128+2·(((m+f)%11)−5)
                mcw, mch = (w2 + 7) // 8, (h2 + 7) // 8
                want_sum, want_max = 0, 0
                for f in range(vf):
                    for m in range(mcw * mch):
                        v = 128 + 2 * (((m + f) % 11) - 5)
                        by, bx = divmod(m, mcw)
                        cnt = min(8, w2 - 8 * bx) * min(8, h2 - 8 * by)
                        want_sum += 3 * v * cnt
                        want_max = max(want_max, v)
                assert (r.n_px, r.px_sum, r.px_max) == (
                    vf * w2 * h2 * 3, want_sum, want_max,
                )
            else:
                sf, sx, sy = (
                    vf * (vf - 1) // 2, w2 * (w2 - 1) // 2, h2 * (h2 - 1) // 2,
                )
                assert (r.n_px, r.px_sum, r.px_max) == (
                    vf * w2 * h2 * 3,
                    3 * (h2 * w2 * sf + vf * h2 * sx + vf * w2 * sy),
                    vf + w2 + h2 - 3,
                )
            assert r.n_samples is None
        elif i % 7 == 4:  # jpeg (r6): per-MCU DC pattern, block m flat
            mcw, mch = (w + 7) // 8, (h + 7) // 8
            want_sum = want_max = 0
            for m in range(mcw * mch):
                by, bx = divmod(m, mcw)
                v = 128 + 2 * ((m % 11) - 5)
                cnt = min(8, w - 8 * bx) * min(8, h - 8 * by)
                want_sum += v * cnt
                want_max = max(want_max, v)
            assert (r.n_px, r.px_sum, r.px_max) == (w * h, want_sum, want_max)
            assert r.n_samples is None
        elif i % 14 == 10:  # mp4 avc1 I_PCM (r7): gray (x + 2y + 5f)
            wa, ha, vfa = 2 * (i % 17) + 16, 2 * (i % 9) + 16, i % 3 + 2
            sx, sy, sf = (
                wa * (wa - 1) // 2, ha * (ha - 1) // 2, vfa * (vfa - 1) // 2,
            )
            assert (r.n_px, r.px_sum, r.px_max) == (
                vfa * wa * ha * 3,
                3 * (vfa * ha * sx + 2 * vfa * wa * sy + 5 * ha * wa * sf),
                wa - 1 + 2 * (ha - 1) + 5 * (vfa - 1),
            )
            assert r.n_samples is None
        else:  # mp4 metadata-only container (entropy codecs closed)
            assert r.n_px is None and r.n_samples is None


def test_avi_make_sniff_frames_pure():
    """AVI tier, pure-Python: the generated container sniffs to the
    planted parameters and every frame decodes to the planted
    f+x+y pixel ramp (late r5 — real video frame decode)."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        avi_frames,
        make_avi,
        sniff_media,
    )

    b = make_avi(11, 6, 4, 12)
    m = sniff_media(b)
    assert (
        m["format"], m["width"], m["height"], m["n_channels"],
        m["sample_rate"], m["n_frames"],
    ) == ("avi", 11, 6, 3, 12, 4)
    fr = avi_frames(b)
    assert fr.shape == (4, 6, 11, 3)
    for f in range(4):
        for y in (0, 5):
            for x in (0, 10):
                assert (fr[f, y, x] == (f + x + y) % 256).all()
    # truncation/garbage: data, not crashes
    assert avi_frames(b[:40]) is None
    assert avi_frames(b"RIFFxxxxAVI ") is None
    assert sniff_media(b"RIFFxxxxAVI ")["format"] == "unknown"


def test_riff_walk_survives_pathological_list_nesting():
    """ADVICE r5 (medium): a crafted deeply-nested LIST RIFF (>1000
    levels fits in ~24 KB) must sniff as data — never a RecursionError
    escaping sniff_media and killing the whole Arrow batch."""
    import struct

    from geoestate_etl_spark.operators.multimodal import sniff_media

    inner = b""
    for _ in range(5000):  # far past any recursion limit
        payload = b"nest" + inner
        inner = b"LIST" + struct.pack("<I", len(payload)) + payload
    b = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    m = sniff_media(b)  # passes iff no exception escapes
    assert m["format"] in ("unknown", "avi")


def _av_interleaved_avi(width, height, n_frames, fps):
    """Audio+video AVI the spec allows but make_avi doesn't emit: the
    AUDIO strl comes FIRST (strf = WAVEFORMATEX, wBitsPerSample=16 at
    the same offset a BITMAPINFOHEADER keeps biBitCount), and every
    video frame chunk is wrapped in a 'rec ' interleave LIST inside
    movi. Pixels keep make_avi's (f+x+y)%256 ramp, bottom-up."""
    import struct

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(form, body):
        return chunk(b"LIST", form + body)

    row_bytes = (width * 3 + 3) & ~3
    frame_bytes = row_bytes * height
    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_bytes * fps, 0, 0, n_frames,
        0, 2, frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh_common = struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n_frames,
        frame_bytes, 0xFFFFFFFF, 0,
    ) + struct.pack("<4h", 0, 0, width, height)
    auds_strh = b"auds" + b"\x00" * 4 + strh_common
    # WAVEFORMATEX: PCM, stereo, 8 kHz, 16-bit — wBitsPerSample @14
    auds_strf = struct.pack("<HHIIHHH", 1, 2, 8000, 32000, 4, 16, 0)
    vids_strh = b"vids" + b"DIB " + strh_common
    vids_strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_bytes,
        2835, 2835, 0, 0,
    )
    frames = []
    for f in range(n_frames):
        rows = []
        for y in range(height - 1, -1, -1):
            row = bytes(
                (f + x + y) % 256 for x in range(width) for _ in range(3)
            )
            rows.append(row + b"\x00" * (row_bytes - len(row)))
        # each frame rides inside its own 'rec ' interleave LIST
        frames.append(lst(b"rec ", chunk(b"00db", b"".join(rows))))
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", auds_strh) + chunk(b"strf", auds_strf))
        + lst(b"strl", chunk(b"strh", vids_strh) + chunk(b"strf", vids_strf)),
    )
    body = b"AVI " + hdrl + lst(b"movi", b"".join(frames))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_audio_video_interleaved_rec_lists():
    """ADVICE r5 (low ×2): the audio stream's WAVEFORMATEX must not be
    misread as the video BITMAPINFOHEADER (n_channels must be 3 from
    the vids strf's 24-bit, not 2 from wBitsPerSample=16), and frames
    wrapped in 'rec ' interleave LISTs must still decode."""
    from geoestate_etl_spark.operators.multimodal import (
        avi_frames,
        sniff_media,
    )

    b = _av_interleaved_avi(11, 6, 4, 12)
    m = sniff_media(b)
    assert (
        m["format"], m["width"], m["height"], m["n_channels"],
        m["sample_rate"], m["n_frames"],
    ) == ("avi", 11, 6, 3, 12, 4)
    fr = avi_frames(b)
    assert fr is not None and fr.shape == (4, 6, 11, 3)
    for f in range(4):
        for y in (0, 5):
            for x in (0, 10):
                assert (fr[f, y, x] == (f + x + y) % 256).all()


# --- r6: baseline JPEG entropy decode ---------------------------------------


def _jpeg_bitwriter():
    """Test-side bit writer with 0xFF byte stuffing and restart-marker
    support — an independent encoder so jpeg_pixels is verified against
    bytes it did not produce."""
    state = {"bits": "", "out": bytearray()}

    def put(code, ln):
        state["bits"] += format(code, "b").zfill(ln)
        while len(state["bits"]) >= 8:
            byte = int(state["bits"][:8], 2)
            state["bits"] = state["bits"][8:]
            state["out"].append(byte)
            if byte == 0xFF:
                state["out"].append(0x00)

    def align_restart(n):
        if state["bits"]:
            put((1 << (8 - len(state["bits"]))) - 1, 8 - len(state["bits"]))
        state["out"] += bytes([0xFF, 0xD0 + (n % 8)])

    def finish():
        if state["bits"]:
            put((1 << (8 - len(state["bits"]))) - 1, 8 - len(state["bits"]))
        return bytes(state["out"])

    return put, align_restart, finish


def _encode_test_jpeg(w, h, comps, blocks, qtables, ri=0):
    """Full baseline encoder for arbitrary zigzag coefficient blocks.

    comps: list of (hs, vs, tq); blocks: per component, array
    (mcuy*vs, mcux*hs, 64) of zigzag-order quantized coefficients;
    qtables: {tq: 64 ints}. Emits SOI/APP0/DQT/DHT/DRI/SOF0/SOS with
    the K.3.1 tables registered under ids 0 AND 1 (components i>0 use
    id 1, exercising table-id plumbing)."""
    import struct

    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _huff_encode_table,
    )

    enc_dc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    enc_ac = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8" + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in sorted(qtables.items()):
        out += seg(0xDB, bytes([tq]) + bytes(int(v) for v in q))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for i, (hs, vs, tq) in enumerate(comps):
        sof += bytes([i + 1, (hs << 4) | vs, tq])
    out += seg(0xC0, sof)
    for th in (0, 1) if len(comps) > 1 else (0,):
        out += seg(0xC4, bytes([th]) + _JPEG_DC_BITS + _JPEG_DC_VALS)
        out += seg(0xC4, bytes([0x10 | th]) + _JPEG_AC_BITS + _JPEG_AC_VALS)
    if ri:
        out += seg(0xDD, struct.pack(">H", ri))
    sos = bytes([len(comps)])
    for i in range(len(comps)):
        t = 0 if i == 0 else 1
        sos += bytes([i + 1, (t << 4) | t])
    out += seg(0xDA, sos + bytes([0, 63, 0]))

    put, align_restart, finish = _jpeg_bitwriter()

    def put_val(table, v):
        ln, code = table[v]
        put(code, ln)

    def put_extend(v, s):
        put(v if v > 0 else v + (1 << s) - 1, s)

    hmax = max(c[0] for c in comps)
    vmax = max(c[1] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    preds = [0] * len(comps)
    nrst = 0
    for m in range(mcux * mcuy):
        if ri and m and m % ri == 0:
            align_restart(nrst)
            nrst += 1
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, (hs, vs, _tq) in enumerate(comps):
            dc_t, ac_t = (enc_dc, enc_ac)
            for by in range(vs):
                for bx in range(hs):
                    coef = blocks[ci][my * vs + by, mx * hs + bx]
                    diff = int(coef[0]) - preds[ci]
                    preds[ci] = int(coef[0])
                    s = abs(diff).bit_length()
                    put_val(dc_t, s)
                    if s:
                        put_extend(diff, s)
                    run = 0
                    for k in range(1, 64):
                        v = int(coef[k])
                        if v == 0:
                            run += 1
                            continue
                        while run >= 16:
                            put_val(ac_t, 0xF0)
                            run -= 16
                        sz = abs(v).bit_length()
                        put_val(ac_t, (run << 4) | sz)
                        put_extend(v, sz)
                        run = 0
                    if run:
                        put_val(ac_t, 0x00)
    return out + finish() + b"\xff\xd9"


def _reference_reconstruct(w, h, comps, blocks, qtables):
    """Independent reconstruction: direct four-loop IDCT formula (not
    the decoder's einsum), then the same assembly/upsample/crop/RGB
    pipeline the spec mandates."""
    import numpy as np

    zz = []
    for s in range(15):
        rng = range(max(0, s - 7), min(7, s) + 1)
        for r in (reversed(rng) if s % 2 == 0 else rng):
            zz.append((r, s - r))
    hmax = max(c[0] for c in comps)
    vmax = max(c[1] for c in comps)
    planes = []
    for ci, (hs, vs, tq) in enumerate(comps):
        rows, cols = blocks[ci].shape[:2]
        plane = np.zeros((rows * 8, cols * 8), np.uint8)
        for r in range(rows):
            for c in range(cols):
                S = np.zeros((8, 8), np.float64)
                for k, (rr, cc) in enumerate(zz):
                    S[rr, cc] = blocks[ci][r, c, k] * qtables[tq][k]
                px = np.zeros((8, 8), np.float64)
                for x in range(8):
                    for y in range(8):
                        acc = 0.0
                        for u in range(8):
                            for v in range(8):
                                cu = 1 / np.sqrt(2) if u == 0 else 1.0
                                cv = 1 / np.sqrt(2) if v == 0 else 1.0
                                acc += (
                                    cu * cv / 4 * S[u, v]
                                    * np.cos((2 * x + 1) * u * np.pi / 16)
                                    * np.cos((2 * y + 1) * v * np.pi / 16)
                                )
                        px[x, y] = acc
                plane[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = np.clip(
                    np.round(px) + 128, 0, 255
                ).astype(np.uint8)
        plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return planes[0]
    y, cb, cr = (p.astype(np.float64) for p in planes)
    rgb = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _rand_blocks(rng, rows, cols, density=0.15, max_dc=200, max_ac=120):
    import numpy as np

    b = np.zeros((rows, cols, 64), np.int64)
    b[:, :, 0] = rng.integers(-max_dc, max_dc + 1, (rows, cols))
    mask = rng.random((rows, cols, 63)) < density
    vals = rng.integers(-max_ac, max_ac + 1, (rows, cols, 63))
    b[:, :, 1:] = np.where(mask, vals, 0)
    return b


def test_jpeg_pixels_dc_varying_fixture():
    """make_jpeg's per-MCU DC pattern decodes to exactly 128+2·c per
    block, cropped at image edges — the closed form the DuckDB oracle
    predicts for multimodal_meta's jpeg rows."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels, make_jpeg

    for (w, h, off) in [(1, 1, 0), (8, 8, 0), (37, 22, 3), (64, 48, 0), (3, 50, 7)]:
        mcw, mch = (w + 7) // 8, (h + 7) // 8
        img = np.zeros((mch * 8, mcw * 8), np.int64)
        for m in range(mcw * mch):
            by, bx = divmod(m, mcw)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                128 + 2 * (((m + off) % 11) - 5)
            )
        px = jpeg_pixels(make_jpeg(w, h, dc_offset=off))
        assert px is not None and px.shape == (h, w)
        assert (px == img[:h, :w]).all()


def test_jpeg_entropy_full_ac_grayscale():
    """Random sparse AC spectra (EXTEND bits, ZRL runs, byte stuffing)
    through an independent encoder decode to the direct-IDCT-formula
    reconstruction — the Huffman/dequant/zigzag path, not just DC."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(42)
    q = {0: ((np.arange(64) * 7) % 29 + 1).astype(np.int64)}
    for (w, h) in [(16, 16), (24, 10), (7, 13)]:
        rows, cols = -(-h // 8), -(-w // 8)
        blocks = [_rand_blocks(rng, rows, cols)]
        # force a ZRL (>16-gap) into one block: energy at k=1 and k=40
        blocks[0][0, 0, 1:] = 0
        blocks[0][0, 0, 1] = 9
        blocks[0][0, 0, 40] = -17
        comps = [(1, 1, 0)]
        jb = _encode_test_jpeg(w, h, comps, blocks, q)
        px = jpeg_pixels(jb)
        want = _reference_reconstruct(w, h, comps, blocks, q)
        assert px is not None and (px == want).all()


def test_jpeg_color_444_and_420():
    """3-component decode: 4:4:4 and 4:2:0 chroma subsampling with
    separate luma/chroma quant tables and Huffman table ids — the
    replication upsample and YCbCr→RGB conversion vs the reference."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(7)
    q = {
        0: ((np.arange(64) * 5) % 23 + 1).astype(np.int64),
        1: ((np.arange(64) * 3) % 17 + 2).astype(np.int64),
    }
    for sampling in [((1, 1, 0), (1, 1, 1), (1, 1, 1)),
                     ((2, 2, 0), (1, 1, 1), (1, 1, 1))]:
        w, h = 20, 14
        hmax = max(c[0] for c in sampling)
        vmax = max(c[1] for c in sampling)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        blocks = [
            _rand_blocks(rng, mcuy * vs, mcux * hs, density=0.1, max_ac=60)
            for (hs, vs, _tq) in sampling
        ]
        jb = _encode_test_jpeg(w, h, list(sampling), blocks, q)
        px = jpeg_pixels(jb)
        want = _reference_reconstruct(w, h, list(sampling), blocks, q)
        assert px is not None and px.shape == (h, w, 3)
        assert (px == want).all()


def test_jpeg_restart_intervals():
    """DRI + RSTn: DC predictors reset and the bit stream re-aligns at
    every restart marker; decode equals the no-restart reconstruction."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(3)
    q = {0: np.full(64, 16, np.int64)}
    w, h = 40, 24  # 5×3 MCUs → restarts mid-row and across rows
    blocks = [_rand_blocks(rng, 3, 5, density=0.2)]
    comps = [(1, 1, 0)]
    jb = _encode_test_jpeg(w, h, comps, blocks, q, ri=4)
    assert b"\xff\xd0" in jb or b"\xff\xd1" in jb  # markers actually emitted
    px = jpeg_pixels(jb)
    want = _reference_reconstruct(w, h, comps, blocks, q)
    assert px is not None and (px == want).all()


def test_jpeg_fuzz_and_boundaries():
    """Corrupt rows are data: truncations at every prefix length,
    seeded byte flips, progressive (SOF2) and 12-bit files all return
    None or a valid array — never an exception (the _none_on_error
    contract the Arrow batch depends on)."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels, make_jpeg

    base = make_jpeg(19, 11, dc_offset=2)
    for cut in range(0, len(base), 3):
        r = jpeg_pixels(base[:cut])
        assert r is None or isinstance(r, np.ndarray)
    rng = np.random.default_rng(11)
    for _ in range(120):
        bb = bytearray(base)
        for _f in range(int(rng.integers(1, 4))):
            bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
        r = jpeg_pixels(bytes(bb))
        assert r is None or isinstance(r, np.ndarray)
    # a baseline SCAN relabeled SOF2 is malformed progressive (a
    # progressive scan may not span DC and AC together) → still None
    prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert jpeg_pixels(prog) is None
    # 12-bit precision flagged in SOF: unsupported → None
    i = base.index(b"\xff\xc0")
    twelve = base[: i + 4] + b"\x0c" + base[i + 5 :]
    assert jpeg_pixels(twelve) is None
    assert jpeg_pixels(b"") is None
    assert jpeg_pixels(b"\xff\xd8") is None


def test_mjpeg_avi_end_to_end(spark):
    """VERDICT r5 #5: MJPEG AVI fixtures decode through avi_frames
    (per-frame baseline JPEG → 3-channel frames, each equal to the
    planted per-block values); decode_media_content sums every frame."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        avi_frames,
        decode_media_content,
        jpeg_pixels,
        make_avi_mjpeg,
        make_jpeg,
        sniff_media,
    )

    w, h, nf = 24, 16, 5
    b = make_avi_mjpeg(w, h, nf, 12)
    meta = sniff_media(b)
    assert (meta["format"], meta["width"], meta["height"], meta["n_frames"]) == (
        "avi", w, h, nf
    )
    frames = avi_frames(b)
    assert frames is not None and frames.shape == (nf, h, w, 3)
    for f in range(nf):
        gray = jpeg_pixels(make_jpeg(w, h, dc_offset=f))
        assert (frames[f] == gray[:, :, None]).all()

    df = spark.createDataFrame(
        [(1, bytearray(b)), (2, bytearray(make_jpeg(9, 9)))],
        "media_id: long, content: binary",
    )
    # content stats span every MJPEG frame
    stats = {r.media_id: r for r in decode_media_content(df).collect()}
    assert stats[1].n_px == nf * h * w * 3
    assert stats[1].px_sum == int(frames.astype(np.int64).sum())
    assert stats[1].px_max == int(frames.max())
    # jpeg rows get real stats now too (the retired NULL boundary)
    jp = jpeg_pixels(make_jpeg(9, 9))
    assert stats[2].n_px == 81 and stats[2].px_sum == int(jp.astype(np.int64).sum())


# --- r6: progressive (SOF2) JPEG entropy decode ------------------------------


def _encode_test_jpeg_progressive(w, h, comps, blocks, qtables, scans, ri=0):
    """Independent progressive encoder: SOF2 + one SOS per scan spec
    ``(comp_indices, Ss, Se, Ah, Al)``. Implements spectral selection,
    DC/AC successive approximation (correction-bit buffering, EOB-run
    accumulation) — the full T.81 G.1.2 emission so the decoder is
    verified against bytes it did not produce."""
    import struct

    from geoestate_etl_spark.operators.multimodal import _huff_encode_table

    # the K.3.1 baseline tables lack the EOBn symbols (0x10..0xE0)
    # progressive scans emit — use flat custom tables covering every
    # run/size plus all EOBn/ZRL codes (also exercises the decoder
    # against non-standard DHT content)
    dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
    dc_vals = bytes(range(12))
    ac_bits = bytes([0] * 7 + [176] + [0] * 8)
    ac_vals = bytes(sorted((r << 4) | s for r in range(16) for s in range(11)))
    enc_dc = _huff_encode_table(dc_bits, dc_vals)
    enc_ac = _huff_encode_table(ac_bits, ac_vals)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    hmax = max(c[0] for c in comps)
    vmax = max(c[1] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def natural(ci):
        hs, vs, _tq = comps[ci]
        cw, ch_ = -(-(w * hs) // hmax), -(-(h * vs) // vmax)
        return -(-cw // 8), -(-ch_ // 8)

    out = b"\xff\xd8" + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in sorted(qtables.items()):
        out += seg(0xDB, bytes([tq]) + bytes(int(v) for v in q))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for i, (hs, vs, tq) in enumerate(comps):
        sof += bytes([i + 1, (hs << 4) | vs, tq])
    out += seg(0xC2, sof)
    for th in (0, 1) if len(comps) > 1 else (0,):
        out += seg(0xC4, bytes([th]) + dc_bits + dc_vals)
        out += seg(0xC4, bytes([0x10 | th]) + ac_bits + ac_vals)
    if ri:
        out += seg(0xDD, struct.pack(">H", ri))

    for cids, Ss, Se, Ah, Al in scans:
        sos = bytes([len(cids)])
        for ci in cids:
            t = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        out += seg(0xDA, sos)

        put, align_restart, finish = _jpeg_bitwriter()

        def put_val(table, v, _put=put):
            ln, code = table[v]
            _put(code, ln)

        # two correction-bit pools (T.81 G / jcphuff BE vs BR): bits of
        # blocks already folded into the EOB run flush with the EOBn
        # symbol; the CURRENT block's bits flush after its own next
        # ZRL/coefficient symbol
        pending = []  # current block, since its last emitted symbol
        pending_eob = []  # completed blocks inside the pending EOB run
        eobrun = 0

        def flush_pending():
            nonlocal pending
            for bit in pending:
                put(bit, 1)
            pending = []

        def flush_eobrun():
            nonlocal eobrun, pending_eob
            if eobrun:
                r = eobrun.bit_length() - 1
                put_val(enc_ac, r << 4)
                if r:
                    put(eobrun - (1 << r), r)
                for bit in pending_eob:
                    put(bit, 1)
                pending_eob = []
                eobrun = 0

        if Ss == 0:  # DC scan (interleaved when several components)
            preds = {ci: 0 for ci in cids}
            units = mcux * mcuy if len(cids) > 1 else (
                natural(cids[0])[0] * natural(cids[0])[1]
            )
            nrst = 0
            for m in range(units):
                if ri and m and m % ri == 0:
                    align_restart(nrst)
                    nrst += 1
                    preds = {ci: 0 for ci in cids}
                for ci in cids:
                    hs, vs, _tq = comps[ci]
                    if len(cids) > 1:
                        my, mx = divmod(m, mcux)
                        cells = [
                            (my * vs + by, mx * hs + bx)
                            for by in range(vs)
                            for bx in range(hs)
                        ]
                    else:
                        bw, _bh = natural(ci)
                        cells = [divmod(m, bw)]
                    for r_, c_ in cells:
                        v = int(blocks[ci][r_, c_, 0])
                        if Ah == 0:
                            tv = v >> Al  # arithmetic shift (two's compl.)
                            diff = tv - preds[ci]
                            preds[ci] = tv
                            s = abs(diff).bit_length()
                            put_val(enc_dc, s)
                            if s:
                                put(
                                    diff if diff > 0 else diff + (1 << s) - 1, s
                                )
                        else:
                            put((v >> Al) & 1, 1)
        else:  # AC scan: single component, natural grid
            ci = cids[0]
            bw, bh = natural(ci)
            nrst = 0
            for u in range(bw * bh):
                if ri and u and u % ri == 0:
                    flush_eobrun()
                    align_restart(nrst)
                    nrst += 1
                r_, c_ = divmod(u, bw)
                coef = blocks[ci][r_, c_]
                if Ah == 0:  # first pass at this precision
                    run = 0
                    emitted = False
                    for k in range(Ss, Se + 1):
                        v = int(coef[k])
                        tv = (abs(v) >> Al) * (1 if v >= 0 else -1)
                        if tv == 0:
                            run += 1
                            continue
                        flush_eobrun()
                        while run > 15:
                            put_val(enc_ac, 0xF0)
                            run -= 16
                        s = abs(tv).bit_length()
                        put_val(enc_ac, (run << 4) | s)
                        put(tv if tv > 0 else tv + (1 << s) - 1, s)
                        run = 0
                        emitted = True
                    if run or not emitted:
                        eobrun += 1
                else:  # refinement pass: Ah == Al + 1
                    run = 0
                    for k in range(Ss, Se + 1):
                        v = int(coef[k])
                        absv = abs(v) >> Al
                        if absv == 0:
                            run += 1
                            continue
                        # arriving at ANY nonzero with >15 zeros pending
                        # settles ZRLs first (T.81 G.7 / jcphuff): the
                        # buffered correction bits then all lie within
                        # the stretch each ZRL covers
                        while run > 15:
                            flush_eobrun()
                            put_val(enc_ac, 0xF0)
                            flush_pending()
                            run -= 16
                        if absv > 1:  # history coefficient: buffer bit
                            pending.append(absv & 1)
                            continue
                        flush_eobrun()
                        put_val(enc_ac, (run << 4) | 1)
                        put(1 if v > 0 else 0, 1)
                        flush_pending()
                        run = 0
                    if run or pending:
                        # fold this block into the EOB run; its bits
                        # move to the run's pool
                        eobrun += 1
                        pending_eob.extend(pending)
                        pending = []
            flush_eobrun()
        out += finish()
    return out + b"\xff\xd9"


def test_jpeg_progressive_spectral_selection():
    """Spectral-selection-only progression (DC scan + three AC band
    scans, Ah=Al=0) decodes identically to the full-coefficient
    reference — multi-scan store accumulation, EOB runs, band logic."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(19)
    q = {0: ((np.arange(64) * 7) % 29 + 1).astype(np.int64)}
    for (w, h) in [(16, 16), (24, 10), (7, 13)]:
        rows, cols = -(-h // 8), -(-w // 8)
        blocks = [_rand_blocks(rng, rows, cols)]
        comps = [(1, 1, 0)]
        scans = [
            ([0], 0, 0, 0, 0),
            ([0], 1, 5, 0, 0),
            ([0], 6, 20, 0, 0),
            ([0], 21, 63, 0, 0),
        ]
        jb = _encode_test_jpeg_progressive(w, h, comps, blocks, q, scans)
        px = jpeg_pixels(jb)
        want = _reference_reconstruct(w, h, comps, blocks, q)
        assert px is not None and (px == want).all(), (w, h)


def test_jpeg_progressive_successive_approximation():
    """Full progressive decode with successive approximation: DC and
    AC first passes at Al=1 followed by refinement passes at Al=0 —
    the correction-bit and EOB-run-with-corrections paths — equals
    the full-precision reference."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(23)
    q = {0: np.full(64, 8, np.int64)}
    for (w, h) in [(16, 16), (21, 11)]:
        rows, cols = -(-h // 8), -(-w // 8)
        blocks = [_rand_blocks(rng, rows, cols, density=0.25, max_ac=60)]
        comps = [(1, 1, 0)]
        scans = [
            ([0], 0, 0, 0, 1),   # DC first, reduced precision
            ([0], 1, 63, 0, 1),  # AC first, reduced precision
            ([0], 0, 0, 1, 0),   # DC refinement bit
            ([0], 1, 63, 1, 0),  # AC refinement bits
        ]
        jb = _encode_test_jpeg_progressive(w, h, comps, blocks, q, scans)
        px = jpeg_pixels(jb)
        want = _reference_reconstruct(w, h, comps, blocks, q)
        assert px is not None and (px == want).all(), (w, h)


def test_jpeg_progressive_color_420_and_restarts():
    """3-component 4:2:0 progressive: interleaved DC scan over the
    MCU-padded grid, per-component AC scans over each NATURAL grid
    (luma natural 3×2 < padded 4×2 at 20×14 — the off-grid case),
    with restart intervals resetting DC predictors and EOB runs."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(29)
    q = {
        0: ((np.arange(64) * 5) % 23 + 1).astype(np.int64),
        1: ((np.arange(64) * 3) % 17 + 2).astype(np.int64),
    }
    w, h = 20, 14
    comps = [(2, 2, 0), (1, 1, 1), (1, 1, 1)]
    hmax, vmax = 2, 2
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    blocks = []
    for hs, vs, _tq in comps:
        bl = _rand_blocks(rng, mcuy * vs, mcux * hs, density=0.12, max_ac=50)
        # AC scans cover only the natural grid; zero pad-block ACs so
        # the encoder's omission matches the reference's input
        cw, ch_ = -(-(w * hs) // hmax), -(-(h * vs) // vmax)
        bw, bh = -(-cw // 8), -(-ch_ // 8)
        bl[:, bw:, 1:] = 0
        bl[bh:, :, 1:] = 0
        blocks.append(bl)
    scans = [
        ([0, 1, 2], 0, 0, 0, 0),
        ([0], 1, 63, 0, 0),
        ([1], 1, 63, 0, 0),
        ([2], 1, 63, 0, 0),
    ]
    for ri in (0, 3):
        jb = _encode_test_jpeg_progressive(w, h, comps, blocks, q, scans, ri=ri)
        px = jpeg_pixels(jb)
        want = _reference_reconstruct(w, h, comps, blocks, q)
        assert px is not None and px.shape == (h, w, 3)
        assert (px == want).all(), ri


def test_jpeg_progressive_fuzz():
    """Progressive files obey the corrupt-rows-are-data contract:
    truncations and seeded byte flips return None or a valid array."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import jpeg_pixels

    rng = np.random.default_rng(31)
    q = {0: np.full(64, 16, np.int64)}
    blocks = [_rand_blocks(rng, 2, 3)]
    scans = [([0], 0, 0, 0, 1), ([0], 1, 63, 0, 1),
             ([0], 0, 0, 1, 0), ([0], 1, 63, 1, 0)]
    base = _encode_test_jpeg_progressive(18, 12, [(1, 1, 0)], blocks, q, scans)
    assert jpeg_pixels(base) is not None  # the fixture itself decodes
    for cut in range(0, len(base), 5):
        r = jpeg_pixels(base[:cut])
        assert r is None or isinstance(r, np.ndarray)
    for _ in range(120):
        bb = bytearray(base)
        for _f in range(int(rng.integers(1, 4))):
            bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
        r = jpeg_pixels(bytes(bb))
        assert r is None or isinstance(r, np.ndarray)


# --- r6: MP4 Motion-JPEG sample-table extraction -----------------------------


def test_mp4_mjpeg_sample_table_pure():
    """mp4_frames walks stsd/stsz/stsc/stco for real: single- and
    multi-chunk layouts decode to the per-frame closed form; the
    header-only make_mp4 (no sample table) and truncations stay None;
    a non-decodable codec fourcc returns None even with a valid map."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        jpeg_pixels,
        make_jpeg,
        make_mp4,
        make_mp4_mjpeg,
        mp4_frames,
        sniff_media,
    )

    for n_chunks in (1, 2, 3):
        b = make_mp4_mjpeg(24, 16, 5, n_chunks=n_chunks)
        meta = sniff_media(b)
        assert (meta["format"], meta["width"], meta["height"]) == ("mp4", 24, 16)
        fr = mp4_frames(b)
        assert fr is not None and fr.shape == (5, 16, 24, 3)
        for f in range(5):
            exp = jpeg_pixels(make_jpeg(24, 16, dc_offset=f))
            assert (fr[f] == exp[:, :, None]).all()

    assert mp4_frames(make_mp4(32, 24, 1000, 500)) is None  # no samples
    # an avc1 (H.264) stsd entry: sample TABLE parses, codec honest None
    avc = make_mp4_mjpeg(24, 16, 3).replace(b"jpeg", b"avc1")
    assert mp4_frames(avc) is None
    base = make_mp4_mjpeg(17, 9, 3, n_chunks=2)
    rng = np.random.default_rng(37)
    for cut in range(0, len(base), 5):
        r = mp4_frames(base[:cut])
        assert r is None or isinstance(r, np.ndarray)
    for _ in range(100):
        bb = bytearray(base)
        for _f in range(int(rng.integers(1, 4))):
            bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
        r = mp4_frames(bytes(bb))
        assert r is None or isinstance(r, np.ndarray)


def test_mp4_mjpeg_feeds_video_and_content_tiers(spark):
    """MP4 MJPEG payloads flow through decode_media_content exactly
    like AVI video: content stats span every frame, and header-only
    MP4s keep NULL stats (oracle k=3 unchanged)."""
    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        decode_media_content,
        make_mp4,
        make_mp4_mjpeg,
        mp4_frames,
    )

    w, h, nf = 20, 12, 6
    b = make_mp4_mjpeg(w, h, nf, n_chunks=2)
    frames = mp4_frames(b)
    df = spark.createDataFrame(
        [(1, bytearray(b)), (2, bytearray(make_mp4(32, 24, 1000, 500)))],
        "media_id: long, content: binary",
    )
    stats = {r.media_id: r for r in decode_media_content(df).collect()}
    assert stats[1].n_px == nf * h * w * 3
    assert stats[1].px_sum == int(frames.astype(np.int64).sum())
    assert stats[1].px_max == int(frames.max())
    assert stats[2].n_px is None  # header-only mp4: honest NULL


def test_forged_dimension_guards():
    """Adversarial-scale guard (r6): a tiny payload claiming enormous
    dimensions must return None FAST without allocating the claimed
    pixel buffers — at Arrow-batch scale a 100-byte header driving a
    17 GB coefficient store is a memory DoS, not a decode error."""
    import struct
    import time
    import zlib

    import numpy as np

    from geoestate_etl_spark.operators.multimodal import (
        avi_frames,
        gif_pixels,
        jpeg_pixels,
        make_avi,
        make_jpeg,
        png_pixels,
    )

    t0 = time.perf_counter()
    # JPEG claiming 50000x50000 (2.5 GP): SOF dims patched into a real file
    jb = bytearray(make_jpeg(8, 8))
    i = bytes(jb).index(b"\xff\xc0")
    jb[i + 5 : i + 9] = struct.pack(">HH", 50000, 50000)
    assert jpeg_pixels(bytes(jb)) is None

    # PNG: forged IHDR dims; and a deflate bomb behind honest dims
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100)) + chunk(b"IEND", b"")
    )
    assert png_pixels(png) is None
    bomb = zlib.compress(b"\x00" * 50_000_000, 9)  # ~48 KB compressed
    ihdr2 = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    png2 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr2)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    px = png_pixels(png2)  # bounded inflate: decodes the 4x3 it needs
    assert px is not None and px.shape == (3, 4, 1)

    # GIF logical screen forged to 60000x60000
    gif = (
        b"GIF89a" + struct.pack("<HH", 60000, 60000) + bytes([0x80, 0, 0])
        + b"\x00" * 6  # 2-entry palette
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 60000, 60000) + b"\x00"
        + b"\x02\x01\x00\x00" + b"\x3b"
    )
    assert gif_pixels(gif) is None

    # AVI strf forged to 60000x60000 over one tiny frame chunk — the
    # (8, 6) pair appears first in avih (dwWidth/dwHeight), but the
    # decoder reads the strf BITMAPINFOHEADER, which follows 'strf'
    ab = bytearray(make_avi(8, 6, 2, 5))
    j = bytes(ab).index(b"strf") + 8 + 4  # strf tag + size + biSize
    assert ab[j : j + 8] == struct.pack("<ii", 8, 6)
    ab[j : j + 8] = struct.pack("<ii", 60000, 60000)
    assert avi_frames(bytes(ab)) is None

    # the whole adversarial family must be fast — no giant allocations
    assert time.perf_counter() - t0 < 10


def test_avc1_honest_none_contract():
    """Permanent pin for the r7 boundary decision (VERDICT r6 #6):
    ENTROPY-CODED H.264/H.265 sample bodies (avc1 without valid I_PCM
    NALs, hvc1/hev1 in MP4, H264 fourcc in AVI) return None from frame
    decode — never garbage pixels, never an exception — while
    container METADATA and the sample-table walk still parse. (avc1
    I_PCM raw-sample streams DO decode for real — operators/h264.py,
    tests/test_h264.py.) The cost/benefit rationale lives in the
    ``operators/multimodal.py`` module docstring; a production
    deployment swaps a codec library into the same mapInPandas
    batch fn."""
    import struct

    from geoestate_etl_spark.operators.multimodal import (
        avi_frames,
        make_avi,
        make_mp4_mjpeg,
        mp4_frames,
        sniff_media,
    )

    base = make_mp4_mjpeg(24, 16, 3)
    for fourcc in (b"avc1", b"hvc1", b"hev1"):
        clip = base.replace(b"jpeg", fourcc)
        assert mp4_frames(clip) is None  # honest None, no exception
        meta = sniff_media(clip)  # container metadata still real
        assert meta is not None and meta["format"] == "mp4"

    # AVI with an H264 biCompression: strf parses, frames honest None
    ab = bytearray(make_avi(8, 6, 2, 5))
    j = bytes(ab).index(b"strf") + 8 + 16  # biSize..biBitCount, then biCompression
    ab[j : j + 4] = struct.pack("<I", 0x34363248)  # 'H264'
    assert avi_frames(bytes(ab)) is None


def test_forged_mp4_sample_count_guard():
    """ADVICE r6 (medium): the uniform-stsz branch expanded
    `[uniform] * count` with an attacker-controlled 32-bit count — a
    ~100-byte MP4 claiming 0xFFFFFFFF samples allocated ~34 GB and
    hung the executor. Every sample-table count (stsz/stco/co64/stsc)
    must now be bounded by file length before any expansion."""
    import struct
    import time

    from geoestate_etl_spark.operators.multimodal import (
        make_mp4_mjpeg,
        mp4_frames,
    )

    base = make_mp4_mjpeg(8, 8, 2)
    assert mp4_frames(base) is not None  # sanity: the honest file decodes

    def patched(tag: str, payload: bytes) -> bytes:
        bb = bytearray(base)
        i = bytes(bb).index(tag.encode())
        bb[i + 4 : i + 4 + len(payload)] = payload
        return bytes(bb)

    t0 = time.perf_counter()
    # uniform stsz: sample_size=64, sample_count=0xFFFFFFFF
    forged = patched("stsz", struct.pack(">III", 0, 64, 0xFFFFFFFF))
    assert mp4_frames(forged) is None
    # stco / stsc entry counts forged to 0xFFFFFFFF
    assert mp4_frames(patched("stco", struct.pack(">II", 0, 0xFFFFFFFF))) is None
    assert mp4_frames(patched("stsc", struct.pack(">II", 0, 0xFFFFFFFF))) is None
    # guard must reject BEFORE allocating, i.e. instantly
    assert time.perf_counter() - t0 < 2
