"""Real H.264 bitstream layer (r7): NAL unescape, Exp-Golomb, SPS/PPS,
IDR slice headers, and I_PCM macroblock decode — roundtripped against
the independent test encoder, cropped, emulation-prevention-exercised,
fuzzed, and pinned to honest-None for entropy-coded residuals
(the permanently-closed CAVLC/CABAC boundary, see the
``operators/multimodal.py`` module docstring)."""

from __future__ import annotations

import numpy as np

from geoestate_etl_spark.operators.h264 import (
    _BitWriter,
    _Bits,
    _escape,
    _nal,
    _pps_rbsp,
    _rbsp,
    _sps_rbsp,
    decode_avc_samples,
    h264_frames,
    ipcm_frame_planes,
    make_avc_samples,
    make_avcc_config,
    make_h264_annexb,
)
from geoestate_etl_spark.operators.multimodal import make_mp4_avc, mp4_frames


def test_exp_golomb_roundtrip():
    w = _BitWriter()
    vals_ue = [0, 1, 2, 3, 7, 25, 255, 70000]
    vals_se = [0, 1, -1, 2, -2, 26, -26, 1000, -1000]
    for v in vals_ue:
        w.ue(v)
    for v in vals_se:
        w.se(v)
    w.trailing()
    r = _Bits(w.to_rbsp())
    assert [r.ue() for _ in vals_ue] == vals_ue
    assert [r.se() for _ in vals_se] == vals_se


def test_emulation_escape_roundtrip():
    cases = [
        b"\x00\x00\x00\x00\x00",
        b"\x00\x00\x01\x02\x03",
        b"\x00\x00\x03",  # data that LOOKS like an escape
        bytes(range(256)) + b"\x00\x00\x02\x00\x00",
        b"\x00" * 64,
    ]
    for rbsp in cases:
        esc = _escape(rbsp)
        assert b"\x00\x00\x00" not in esc
        assert b"\x00\x00\x01" not in esc
        assert b"\x00\x00\x02" not in esc
        assert _rbsp(esc) == rbsp


def test_annexb_ipcm_roundtrip_exact():
    b = make_h264_annexb(48, 32, 3)
    fr = h264_frames(b)
    assert fr is not None and fr.shape == (3, 32, 48, 3)
    for f in range(3):
        y, _, _ = ipcm_frame_planes(48, 32, f)
        assert (fr[f] == y[:, :, None]).all()


def test_multi_pps_slice_pairs_with_its_pps():
    """ADVICE r7: a valid stream/avcC can carry several PPS; the slice
    header's pic_parameter_set_id must select which one applies —
    pairing with an arbitrary PPS silently misreads the cabac/deblock
    flags (here the decoy PPS 0 is CABAC, so the old arbitrary pairing
    returned None for a perfectly decodable CAVLC I_PCM slice)."""
    from geoestate_etl_spark.operators.h264 import _idr_rbsp, _pad_planes

    y, cb, cr = ipcm_frame_planes(32, 32, 0)
    yp, cbp, crp, crop, w_mbs, h_mbs = _pad_planes(32, 32, y, cb, cr)
    sc = b"\x00\x00\x00\x01"
    stream = b"".join(
        [
            sc, _nal(3, 7, _sps_rbsp(w_mbs, h_mbs, crop)),
            sc, _nal(3, 8, _pps_rbsp(pps_id=0, cabac=True)),  # decoy
            sc, _nal(3, 8, _pps_rbsp(pps_id=1, cabac=False)),
            sc, _nal(3, 5, _idr_rbsp(yp, cbp, crp, 0, pps_id=1)),
        ]
    )
    fr = h264_frames(stream)
    assert fr is not None and fr.shape == (1, 32, 32, 3)
    assert (fr[0] == y[:, :, None]).all()

    # a slice referencing an ABSENT pps_id is honest-None, not a
    # fallback to whatever PPS happens to exist
    bad = b"".join(
        [
            sc, _nal(3, 7, _sps_rbsp(w_mbs, h_mbs, crop)),
            sc, _nal(3, 8, _pps_rbsp(pps_id=0)),
            sc, _nal(3, 5, _idr_rbsp(yp, cbp, crp, 0, pps_id=2)),
        ]
    )
    assert h264_frames(bad) is None


def test_frame_cropping_non_mb_dims():
    """50×34 needs edge padding to 64×48 MBs + SPS frame cropping —
    the decoder must recover the exact original geometry."""
    fr = h264_frames(make_h264_annexb(50, 34, 2))
    assert fr is not None and fr.shape == (2, 34, 50, 3)
    y, _, _ = ipcm_frame_planes(50, 34, 1)
    assert (fr[1] == y[:, :, None]).all()


def test_emulation_prevention_exercised():
    """All-zero luma forces 00 00 00 runs in the raw I_PCM payload —
    the encoder must escape them and the decoder must unescape."""
    b = make_h264_annexb(32, 32, 1, flat=0)
    assert b"\x00\x00\x03" in b
    fr = h264_frames(b)
    assert fr is not None and (fr == 0).all()


def test_mp4_avc1_track_decodes():
    clip = make_mp4_avc(48, 32, 4, n_chunks=2)
    fr = mp4_frames(clip)
    assert fr is not None and fr.shape == (4, 32, 48, 3)
    y, _, _ = ipcm_frame_planes(48, 32, 3)
    assert (fr[3] == y[:, :, None]).all()


def test_entropy_coded_mb_honest_none():
    """A slice whose first macroblock is NOT I_PCM (mb_type 0 =
    I_4x4 → CAVLC residuals follow) is the closed boundary: None."""
    sc = b"\x00\x00\x00\x01"
    w = _BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type I
    w.ue(0)  # pps_id
    w.u(0, 4)  # frame_num
    w.ue(0)  # idr_pic_id
    w.u(0, 1)
    w.u(0, 1)  # dec_ref_pic_marking
    w.se(0)  # slice_qp_delta
    w.ue(1)  # disable deblocking
    w.ue(0)  # mb_type 0: I_4x4 — entropy-coded
    w.trailing()
    stream = (
        sc + _nal(3, 7, _sps_rbsp(2, 2, (0, 0, 0, 0)))
        + sc + _nal(3, 8, _pps_rbsp())
        + sc + _nal(3, 5, w.to_rbsp())
    )
    assert h264_frames(stream) is None


def test_cabac_and_inter_honest_none():
    # CABAC PPS (entropy_coding_mode_flag = 1)
    w = _BitWriter()
    w.ue(0)
    w.ue(0)
    w.u(1, 1)  # CABAC
    w.u(0, 1)
    w.ue(0)
    w.ue(0)
    w.ue(0)
    w.u(0, 1)
    w.u(0, 2)
    w.se(0)
    w.se(0)
    w.se(0)
    w.u(1, 1)
    w.u(0, 1)
    w.u(0, 1)
    w.trailing()
    sc = b"\x00\x00\x00\x01"
    good = make_h264_annexb(32, 32, 1)
    sps_nal = sc + _nal(3, 7, _sps_rbsp(2, 2, (0, 0, 0, 0)))
    idr = good[good.rindex(sc) :]
    assert h264_frames(sps_nal + sc + _nal(3, 8, w.to_rbsp()) + idr) is None
    # a non-IDR coded slice (NAL type 1): inter prediction, closed
    base = make_h264_annexb(32, 32, 1)
    p_slice = sc + _nal(2, 1, b"\x88\x80")
    assert h264_frames(base + p_slice) is None


def test_avcc_sample_path_and_malformed():
    avcc = make_avcc_config(32, 16)
    samples = make_avc_samples(32, 16, 2)
    fr = decode_avc_samples(samples, avcc)
    assert fr is not None and fr.shape == (2, 16, 32, 3)
    # forged avcC / bad length prefixes are None, never exceptions
    assert decode_avc_samples(samples, b"") is None
    assert decode_avc_samples(samples, b"\x02" + avcc[1:]) is None
    assert decode_avc_samples([b"\xff\xff\xff\xff" + samples[0][4:]], avcc) is None
    assert decode_avc_samples([b"\x00\x00\x00\x00"], avcc) is None


def test_h264_roundtrip_property():
    """Property roundtrip over the geometry lattice (hypothesis
    discipline, explicit grid to keep runtime bounded): any even
    WxH in [16, 60] with/without MB-alignment, 1-3 frames, ramp or
    flat luma, decodes back exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(8, 30).map(lambda v: 2 * v),
        h=st.integers(8, 24).map(lambda v: 2 * v),
        n=st.integers(1, 3),
        flat=st.one_of(st.none(), st.integers(0, 255)),
    )
    def check(w, h, n, flat):
        fr = h264_frames(make_h264_annexb(w, h, n, flat))
        assert fr is not None and fr.shape == (n, h, w, 3)
        for f in range(n):
            y, _, _ = ipcm_frame_planes(w, h, f, flat)
            assert (fr[f] == y[:, :, None]).all()

    check()


def test_forged_sps_dimension_guard():
    """The ADVICE-r6 class applied to H.264: the slice decoder
    allocates the full frame from SPS geometry BEFORE reading any
    sample byte, so a tiny stream claiming 65535x65535 macroblocks
    (or absurd log2 fields / crops) must return None fast, without
    the allocation."""
    import time

    sc = b"\x00\x00\x00\x01"

    def sps_stream(w_mbs, h_mbs, log2fn_m4=0, crop=None):
        w = _BitWriter()
        w.u(66, 8)
        w.u(0, 8)
        w.u(30, 8)
        w.ue(0)
        w.ue(log2fn_m4)
        w.ue(2)
        w.ue(0)
        w.u(0, 1)
        w.ue(w_mbs - 1)
        w.ue(h_mbs - 1)
        w.u(1, 1)
        w.u(1, 1)
        if crop:
            w.u(1, 1)
            for c in crop:
                w.ue(c)
        else:
            w.u(0, 1)
        w.u(0, 1)
        w.trailing()
        good = make_h264_annexb(32, 32, 1)
        idr = good[good.rindex(sc) :]
        return (
            sc + _nal(3, 7, w.to_rbsp()) + sc + _nal(3, 8, _pps_rbsp()) + idr
        )

    t0 = time.perf_counter()
    # 65535x65535 MBs ≈ 1.1 PB of claimed luma
    assert h264_frames(sps_stream(65535, 65535)) is None
    # forged log2_max_frame_num (would spin the bit reader)
    assert h264_frames(sps_stream(2, 2, log2fn_m4=2_000_000_000)) is None
    # crop larger than the coded frame (negative output geometry)
    assert h264_frames(sps_stream(2, 2, crop=(500, 500, 0, 0))) is None
    assert time.perf_counter() - t0 < 2


def test_fuzz_truncation_and_bitflips():
    """Honest-None contract under damage: any truncation or bit flip
    yields None or a valid ndarray — never an exception (the
    _none_on_error discipline of the whole media tier)."""
    base = make_h264_annexb(34, 18, 2)
    for cut in range(0, len(base), 97):
        r = h264_frames(base[:cut])
        assert r is None or isinstance(r, np.ndarray)
    rng = np.random.default_rng(41)
    clip = make_mp4_avc(34, 18, 2)
    for _ in range(120):
        bb = bytearray(clip)
        for _f in range(int(rng.integers(1, 4))):
            bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
        r = mp4_frames(bytes(bb))
        assert r is None or isinstance(r, np.ndarray)
