"""Real ITU-T H.264 (ISO/IEC 14496-10) bitstream layer — the
container/plumbing 80% of an AVC decoder, stdlib + numpy only.

What decodes FOR REAL here (r7):

- Annex-B byte streams (start-code delimited NAL units) and MP4
  ``avc1`` tracks (avcC decoder-config + length-prefixed NALs).
- NAL unescaping (emulation-prevention ``00 00 03`` removal),
  Exp-Golomb ``ue(v)``/``se(v)``, SPS and PPS parsing (including the
  high-profile chroma/bit-depth extension fields and frame cropping),
  IDR slice headers, and the I-slice macroblock walk.
- **I_PCM macroblocks** (mb_type 25 in I slices): raw uncompressed
  4:2:0 samples carried verbatim in the bitstream — pcm alignment,
  256 luma + 2×64 chroma bytes per MB, assembled into frames and
  converted YCbCr→RGB with the same full-range BT.601 matrix the JPEG
  decoder uses (JFIF convention; the streams our tests build carry no
  VUI signalling, and one matrix across the media tier keeps the
  grid-sum oracles composable).

What stays closed — permanently, by the r7 cost/benefit decision
recorded in the ``operators/multimodal.py`` docstring: entropy-coded
residual macroblocks (CAVLC/CABAC prediction+transform coding). Any
slice containing one returns None — honest None, never garbage
pixels. This split demonstrates concretely which part of "H.264
support" is engine plumbing (all real here) and which part is codec
DSP (a library concern at 100 TB).

Capability parity note: the reference (GeoEstate-ETL ``dags/main.py``)
has no media surface at all; this module belongs to the
training-data-pipeline extension tier (multimodal columns), feeding
the same mapInPandas batch kernels as the other decoders in
``operators/multimodal.py``.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "h264_frames",
    "decode_avc_samples",
    "parse_avcc",
    "make_h264_annexb",
    "make_avcc_config",
]


# --- bit I/O -----------------------------------------------------------------


def _rbsp(nal_body: bytes) -> bytes:
    """Strip emulation-prevention bytes: 00 00 03 -> 00 00."""
    return nal_body.replace(b"\x00\x00\x03", b"\x00\x00")


class _Bits:
    """MSB-first bit reader over an RBSP; raises ValueError past EOF."""

    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.b):
                raise ValueError("rbsp exhausted")
            v = (v << 1) | ((self.b[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("bad exp-golomb")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        while self.pos & 7:
            if self.u(1) != 0:
                raise ValueError("nonzero pcm alignment bit")

    def read_bytes(self, n: int) -> bytes:
        if self.pos & 7:
            raise ValueError("byte read while unaligned")
        lo = self.pos >> 3
        if lo + n > len(self.b):
            raise ValueError("rbsp exhausted")
        self.pos += 8 * n
        return self.b[lo : lo + n]


class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int) -> None:
        code = v + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align_zero(self) -> None:
        while len(self.bits) & 7:
            self.bits.append(0)

    def raw(self, data: bytes) -> None:
        assert len(self.bits) & 7 == 0
        for byte in data:
            self.u(byte, 8)

    def trailing(self) -> None:
        self.bits.append(1)
        self.align_zero()

    def to_rbsp(self) -> bytes:
        assert len(self.bits) & 7 == 0
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            v = 0
            for bit in self.bits[i : i + 8]:
                v = (v << 1) | bit
            out.append(v)
        return bytes(out)


def _escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: any 00 00 followed by
    00/01/02/03 gets a 03 spliced in (ITU-T H.264 §7.4.1)."""
    out = bytearray()
    zeros = 0
    for byte in rbsp:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def _nal(ref_idc: int, nal_type: int, rbsp: bytes) -> bytes:
    return bytes([(ref_idc << 5) | nal_type]) + _escape(rbsp)


# --- parameter sets ----------------------------------------------------------

_HIGH_PROFILES = frozenset((100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135))


def _parse_sps(rbsp: bytes) -> dict | None:
    """SPS → geometry dict, or None when the stream needs tools we
    honestly don't have (scaling matrices, >8-bit, non-4:2:0,
    interlace)."""
    r = _Bits(rbsp)
    profile = r.u(8)
    r.u(8)  # constraint flags + reserved
    r.u(8)  # level_idc
    sps_id = r.ue()
    chroma_format = 1
    if profile in _HIGH_PROFILES:
        chroma_format = r.ue()
        if chroma_format == 3:
            r.u(1)  # separate_colour_plane_flag
        if r.ue() != 0 or r.ue() != 0:  # bit_depth_{luma,chroma}_minus8
            return None
        r.u(1)  # qpprime_y_zero_transform_bypass
        if r.u(1):  # seq_scaling_matrix_present: out of honest scope
            return None
    if chroma_format != 1:
        return None  # only 4:2:0
    log2_max_frame_num = r.ue() + 4
    if log2_max_frame_num > 16:  # spec bound (§7.4.2.1.1): forged SPS
        return None
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
        if log2_max_poc_lsb > 16:
            return None
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero
        r.se()
        r.se()
        n_ref = r.ue()
        if n_ref > 255:  # spec bound on num_ref_frames_in_pic_order_cnt_cycle
            return None
        for _ in range(n_ref):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed
    w_mbs = r.ue() + 1
    h_map_units = r.ue() + 1
    # forged-dimension guard (the ADVICE-r6 class): the slice decoder
    # allocates the full frame BEFORE reading samples, so a ~100-byte
    # SPS claiming 2^16 x 2^16 macroblocks must be rejected here —
    # 100 MP matches the media tier's _MAX_DECODE_PIXELS budget
    if w_mbs * h_map_units * 256 > 100_000_000:
        return None
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        return None  # interlace out of scope
    r.u(1)  # direct_8x8_inference
    crop = (0, 0, 0, 0)
    if r.u(1):  # frame_cropping_flag — offsets in 2-sample units (4:2:0)
        crop = (r.ue(), r.ue(), r.ue(), r.ue())  # left right top bottom
        if (
            2 * (crop[0] + crop[1]) >= 16 * w_mbs
            or 2 * (crop[2] + crop[3]) >= 16 * h_map_units
        ):
            return None  # crop exceeds the coded frame: malformed
    return {
        "sps_id": sps_id,
        "w_mbs": w_mbs,
        "h_mbs": h_map_units,
        "crop": crop,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "width": 16 * w_mbs - 2 * (crop[0] + crop[1]),
        "height": 16 * h_map_units - 2 * (crop[2] + crop[3]),
    }


def _parse_pps(rbsp: bytes) -> dict | None:
    r = _Bits(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    entropy_cabac = r.u(1)
    r.u(1)  # bottom_field_pic_order_in_frame_present
    if r.ue() != 0:  # num_slice_groups_minus1: FMO out of scope
        return None
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    r.u(1)  # weighted_pred_flag
    r.u(2)  # weighted_bipred_idc
    r.se()  # pic_init_qp_minus26
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    deblock_ctl = r.u(1)
    r.u(1)  # constrained_intra_pred
    r.u(1)  # redundant_pic_cnt_present
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "cabac": entropy_cabac,
        "deblock_ctl": deblock_ctl,
    }


# --- slice + macroblock layer ------------------------------------------------


def _decode_idr_slice(rbsp: bytes, sps: dict, pps: dict):
    """One IDR I-slice → (h, w) luma + 2× (h/2, w/2) chroma planes,
    or None. Real decode ONLY when every macroblock is I_PCM —
    entropy-coded residuals (CAVLC/CABAC) are the documented closed
    boundary and return None."""
    if pps["cabac"]:
        return None  # CABAC slice data: closed boundary
    r = _Bits(rbsp)
    if r.ue() != 0:  # first_mb_in_slice: multi-slice frames unsupported
        return None
    slice_type = r.ue()
    if slice_type % 5 != 2:  # I slice only
        return None
    r.ue()  # pic_parameter_set_id (already paired via _slice_pps_id)
    r.u(sps["log2_max_frame_num"])  # frame_num
    r.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])
    # dec_ref_pic_marking for IDR
    r.u(1)  # no_output_of_prior_pics
    r.u(1)  # long_term_reference
    r.se()  # slice_qp_delta
    if pps["deblock_ctl"]:
        if r.ue() != 1:  # disable_deblocking_filter_idc: offsets follow
            r.se()
            r.se()
    w_mbs, h_mbs = sps["w_mbs"], sps["h_mbs"]
    y = np.empty((16 * h_mbs, 16 * w_mbs), np.uint8)
    cb = np.empty((8 * h_mbs, 8 * w_mbs), np.uint8)
    cr = np.empty_like(cb)
    for mb in range(w_mbs * h_mbs):
        if r.ue() != 25:  # not I_PCM: entropy-coded mb, honest None
            return None
        r.align()  # pcm_alignment_zero_bit(s)
        my, mx = divmod(mb, w_mbs)
        luma = np.frombuffer(r.read_bytes(256), np.uint8).reshape(16, 16)
        y[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16] = luma
        for plane in (cb, cr):
            samp = np.frombuffer(r.read_bytes(64), np.uint8).reshape(8, 8)
            plane[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8] = samp
    l, rt, t, btm = sps["crop"]
    y = y[2 * t : 16 * h_mbs - 2 * btm, 2 * l : 16 * w_mbs - 2 * rt]
    cb = cb[t : 8 * h_mbs - btm, l : 8 * w_mbs - rt]
    cr = cr[t : 8 * h_mbs - btm, l : 8 * w_mbs - rt]
    return y, cb, cr


def _to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """4:2:0 replication upsample + full-range BT.601 (JFIF matrix,
    matching jpeg_pixels — see module docstring)."""
    h, w = y.shape
    cbf = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)[:h, :w].astype(np.float64)
    crf = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)[:h, :w].astype(np.float64)
    yf = y.astype(np.float64)
    rgb = np.stack(
        [
            yf + 1.402 * (crf - 128.0),
            yf - 0.344136 * (cbf - 128.0) - 0.714136 * (crf - 128.0),
            yf + 1.772 * (cbf - 128.0),
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- stream-level decode -----------------------------------------------------


def _annexb_nals(b: bytes):
    """Yield NAL unit bodies from an Annex-B byte stream."""
    i, n = 0, len(b)
    starts = []
    while i + 3 <= n:
        if b[i : i + 3] == b"\x00\x00\x01":
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    for k, s in enumerate(starts):
        end = (starts[k + 1] - 3) if k + 1 < len(starts) else n
        # a 4-byte start code leaves one trailing zero on the previous NAL
        while end > s and b[end - 1] == 0:
            end -= 1
        yield b[s:end]


def _slice_pps_id(rbsp: bytes) -> int | None:
    """Peek the slice header's ``pic_parameter_set_id`` (third ue(v)
    field, after first_mb_in_slice and slice_type) so a multi-PPS
    stream pairs each slice with ITS PPS — a valid avcC may carry
    several, and pairing with an arbitrary one silently misreads the
    cabac/deblock flags (ADVICE r7)."""
    try:
        r = _Bits(rbsp)
        r.ue()
        r.ue()
        return r.ue()
    except (ValueError, IndexError):
        return None


def _decode_nal_stream(nals, sps_map: dict, pps_map: dict) -> list | None:
    frames = []
    for nal in nals:
        if not nal:
            continue
        nal_type = nal[0] & 0x1F
        body = _rbsp(nal[1:])
        if nal_type == 7:
            sps = _parse_sps(body)
            if sps is None:
                return None
            sps_map[sps["sps_id"]] = sps
        elif nal_type == 8:
            pps = _parse_pps(body)
            if pps is None:
                return None
            pps_map[pps["pps_id"]] = pps
        elif nal_type == 5:  # IDR slice
            pps_id = _slice_pps_id(body)
            pps = None if pps_id is None else pps_map.get(pps_id)
            if pps is None:
                return None
            sps = sps_map.get(pps["sps_id"])
            if sps is None:
                return None
            planes = _decode_idr_slice(body, sps, pps)
            if planes is None:
                return None
            frames.append(_to_rgb(*planes))
        elif nal_type == 1:  # non-IDR coded slice: inter prediction, closed
            return None
        # SEI (6), AUD (9), filler (12) etc.: skipped
    return frames


def h264_frames(b: bytes):
    """Decode an Annex-B H.264 byte stream of I_PCM IDR frames →
    ``(n_frames, h, w, 3)`` uint8, or None (entropy-coded residuals,
    malformed stream, unsupported tools — the honest-None contract
    shared by every decoder in the media tier)."""
    try:
        frames = _decode_nal_stream(_annexb_nals(b), {}, {})
    except (ValueError, struct.error, IndexError):
        return None
    if not frames or len({f.shape for f in frames}) != 1:
        return None
    return np.stack(frames)


def parse_avcc(avcc: bytes):
    """AVCDecoderConfigurationRecord → (sps_map, pps_map, length_size),
    or None."""
    try:
        if len(avcc) < 7 or avcc[0] != 1:
            return None
        length_size = (avcc[4] & 3) + 1
        sps_map: dict = {}
        pps_map: dict = {}
        pos = 5
        n_sps = avcc[pos] & 0x1F
        pos += 1
        for _ in range(n_sps):
            (ln,) = struct.unpack(">H", avcc[pos : pos + 2])
            pos += 2
            sps = _parse_sps(_rbsp(avcc[pos + 1 : pos + ln]))
            pos += ln
            if sps is None:
                return None
            sps_map[sps["sps_id"]] = sps
        n_pps = avcc[pos]
        pos += 1
        for _ in range(n_pps):
            (ln,) = struct.unpack(">H", avcc[pos : pos + 2])
            pos += 2
            pps = _parse_pps(_rbsp(avcc[pos + 1 : pos + ln]))
            pos += ln
            if pps is None:
                return None
            pps_map[pps["pps_id"]] = pps
        if not sps_map or not pps_map:
            return None
        return sps_map, pps_map, length_size
    except (ValueError, struct.error, IndexError):
        return None


def decode_avc_samples(samples, avcc: bytes):
    """MP4 ``avc1`` track decode: ``samples`` is an iterable of raw
    sample payloads (length-prefixed NALs per ISO 14496-15), ``avcc``
    the decoder-config record from the sample entry. Returns stacked
    RGB frames or None — same I_PCM-only contract as
    :func:`h264_frames`."""
    cfg = parse_avcc(avcc)
    if cfg is None:
        return None
    sps_map, pps_map, length_size = cfg
    frames = []
    try:
        for sample in samples:
            nals, pos = [], 0
            while pos + length_size <= len(sample):
                ln = int.from_bytes(sample[pos : pos + length_size], "big")
                pos += length_size
                if ln <= 0 or pos + ln > len(sample):
                    return None
                nals.append(sample[pos : pos + ln])
                pos += ln
            got = _decode_nal_stream(nals, sps_map, pps_map)
            if got is None or len(got) != 1:
                return None
            frames.append(got[0])
    except (ValueError, struct.error, IndexError):
        return None
    if not frames or len({f.shape for f in frames}) != 1:
        return None
    return np.stack(frames)


# --- independent test encoder ------------------------------------------------


def _sps_rbsp(w_mbs: int, h_mbs: int, crop: tuple[int, int, int, int]) -> bytes:
    w = _BitWriter()
    w.u(66, 8)  # profile_idc: Baseline
    w.u(0, 8)  # constraint flags
    w.u(30, 8)  # level 3.0
    w.ue(0)  # sps_id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type 2: no POC fields in slice headers
    w.ue(0)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num
    w.ue(w_mbs - 1)
    w.ue(h_mbs - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if any(crop):
        w.u(1, 1)
        for c in crop:
            w.ue(c)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present
    w.trailing()
    return w.to_rbsp()


def _pps_rbsp(pps_id: int = 0, cabac: bool = False) -> bytes:
    w = _BitWriter()
    w.ue(pps_id)
    w.ue(0)  # sps_id
    w.u(1 if cabac else 0, 1)  # entropy_coding_mode: CAVLC/CABAC
    w.u(0, 1)  # bottom_field_poc
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0
    w.ue(0)  # num_ref_idx_l1
    w.u(0, 1)  # weighted_pred
    w.u(0, 2)  # weighted_bipred
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present
    w.u(0, 1)  # constrained_intra_pred
    w.u(0, 1)  # redundant_pic_cnt_present
    w.trailing()
    return w.to_rbsp()


def ipcm_frame_planes(width: int, height: int, f: int, flat: int | None = None):
    """The deterministic test pattern: luma ``(x + 2y + 5f) % 256``
    (or a flat value — all-zero luma exercises emulation prevention),
    chroma 128 ⇒ decoded RGB == luma replicated ×3 EXACTLY under the
    full-range BT.601 matrix (Cb=Cr=128 zeroes every chroma term)."""
    ys, xs = np.mgrid[0:height, 0:width]
    y = (
        np.full((height, width), flat, np.uint8)
        if flat is not None
        else ((xs + 2 * ys + 5 * f) % 256).astype(np.uint8)
    )
    cb = np.full((-(-height // 2), -(-width // 2)), 128, np.uint8)
    return y, cb, cb.copy()


def _idr_rbsp(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray, f: int, pps_id: int = 0
) -> bytes:
    h_pad, w_pad = y.shape
    w_mbs, h_mbs = w_pad // 16, h_pad // 16
    w = _BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type: I (all slices of the picture)
    w.ue(pps_id)
    w.u(0, 4)  # frame_num (log2_max_frame_num = 4)
    w.ue(f & 1)  # idr_pic_id: alternates between consecutive IDRs
    w.u(0, 1)  # no_output_of_prior_pics
    w.u(0, 1)  # long_term_reference
    w.se(0)  # slice_qp_delta
    w.ue(1)  # disable_deblocking_filter_idc = 1 (off)
    for mb in range(w_mbs * h_mbs):
        my, mx = divmod(mb, w_mbs)
        w.ue(25)  # I_PCM
        w.align_zero()  # pcm_alignment_zero_bit
        w.raw(y[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16].tobytes())
        w.raw(cb[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8].tobytes())
        w.raw(cr[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8].tobytes())
    w.trailing()
    return w.to_rbsp()


def _pad_planes(width: int, height: int, y, cb, cr):
    """Pad planes to whole macroblocks (edge replication) and compute
    the frame-cropping offsets that recover the true size."""
    w_mbs, h_mbs = -(-width // 16), -(-height // 16)
    y_pad = np.pad(
        y, ((0, 16 * h_mbs - height), (0, 16 * w_mbs - width)), mode="edge"
    )
    cbp = np.pad(
        cb,
        ((0, 8 * h_mbs - cb.shape[0]), (0, 8 * w_mbs - cb.shape[1])),
        mode="edge",
    )
    crp = np.pad(
        cr,
        ((0, 8 * h_mbs - cr.shape[0]), (0, 8 * w_mbs - cr.shape[1])),
        mode="edge",
    )
    crop = (0, (16 * w_mbs - width) // 2, 0, (16 * h_mbs - height) // 2)
    return y_pad, cbp, crp, crop, w_mbs, h_mbs


def make_h264_annexb(
    width: int, height: int, n_frames: int, flat: int | None = None
) -> bytes:
    """A complete Annex-B H.264 stream of I_PCM IDR frames: SPS + PPS
    + one IDR slice per frame, emulation-prevention escaped. Even
    dimensions only (frame cropping counts in 2-sample units for
    4:2:0); non-multiple-of-16 sizes use edge padding + cropping."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 frame cropping needs even dimensions")
    first = ipcm_frame_planes(width, height, 0, flat)
    _, _, _, crop, w_mbs, h_mbs = _pad_planes(width, height, *first)
    sc = b"\x00\x00\x00\x01"
    out = [sc, _nal(3, 7, _sps_rbsp(w_mbs, h_mbs, crop)), sc, _nal(3, 8, _pps_rbsp())]
    for f in range(n_frames):
        y, cb, cr = ipcm_frame_planes(width, height, f, flat)
        yp, cbp, crp, _, _, _ = _pad_planes(width, height, y, cb, cr)
        out.append(sc)
        out.append(_nal(3, 5, _idr_rbsp(yp, cbp, crp, f)))
    return b"".join(out)


def make_avcc_config(width: int, height: int) -> bytes:
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.2.4.1) for the
    I_PCM test streams: 4-byte NAL lengths, one SPS + one PPS."""
    first = ipcm_frame_planes(width, height, 0)
    _, _, _, crop, w_mbs, h_mbs = _pad_planes(width, height, *first)
    sps = _nal(3, 7, _sps_rbsp(w_mbs, h_mbs, crop))
    pps = _nal(3, 8, _pps_rbsp())
    return (
        bytes([1, 66, 0, 30, 0xFC | 3, 0xE0 | 1])
        + struct.pack(">H", len(sps))
        + sps
        + bytes([1])
        + struct.pack(">H", len(pps))
        + pps
    )


def make_avc_samples(width: int, height: int, n_frames: int) -> list[bytes]:
    """Length-prefixed MP4 samples (one IDR NAL each) matching
    :func:`make_avcc_config`'s parameter sets."""
    samples = []
    for f in range(n_frames):
        y, cb, cr = ipcm_frame_planes(width, height, f)
        yp, cbp, crp, _, _, _ = _pad_planes(width, height, y, cb, cr)
        nal = _nal(3, 5, _idr_rbsp(yp, cbp, crp, f))
        samples.append(struct.pack(">I", len(nal)) + nal)
    return samples
