"""Baseline-sequential JPEG decoder certification (VERDICT r8 item 5).

The test file carries its own minimal JPEG ENCODER — custom canonical
Huffman tables written into real DHT segments, arbitrary quantized
coefficient blocks, FF-stuffing, DRI/RSTn — so the decoder is exercised
against streams it has never seen the construction of, and expected
pixels come from an INDEPENDENT matrix-form IDCT (numpy A^T F A) with
the same round-half-away-from-zero contract. Covers: DC prediction
across blocks, AC run/size symbols, EOB, ZRL (16-zero runs), byte
stuffing, restart-marker predictor resets, 3-component YCbCr (luma =
the Y plane), and the fail-loud surface (progressive SOF2, subsampled
chroma, 16-bit quant tables, truncation, non-JPEG payloads).
"""

from __future__ import annotations

import math
import struct

import pytest

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("jpeg-decode")
    return _spark


# ---------- independent zigzag + IDCT (test-side oracle) ----------

def _zigzag():
    cells = [(r, c) for r in range(8) for c in range(8)]
    return sorted(
        cells,
        key=lambda rc: (
            rc[0] + rc[1],
            rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0],
        ),
    )


ZZ = _zigzag()


def _ref_block(coef_zz, q):
    import numpy as np

    f = np.zeros((8, 8))
    for i, (r, c) in enumerate(ZZ):
        f[r, c] = coef_zz[i] * q[i]
    m = np.array([
        [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
        for u in range(8)
    ])
    cu = np.array([1 / math.sqrt(2)] + [1.0] * 7)
    a = cu[:, None] * m
    out = (a.T @ f @ a) / 4 + 128
    px = np.where(out >= 0, np.floor(out + 0.5), -np.floor(-out + 0.5))
    return np.clip(px, 0, 255).astype(int)


# ---------- minimal encoder ----------

class _Table:
    """Canonical Huffman table: every symbol at one length L (the
    smallest with n <= 2^L - 1 so the all-ones max-length code stays
    unused), codes assigned 0..n-1 in HUFFVAL order."""

    def __init__(self, symbols):
        self.vals = list(dict.fromkeys(symbols))
        n = len(self.vals)
        ln = 1
        while (1 << ln) - 1 < n:
            ln += 1
        self.ln = ln
        self.codes = {s: i for i, s in enumerate(self.vals)}

    def dht(self, tc, th):
        bits = [0] * 16
        bits[self.ln - 1] = len(self.vals)
        body = bytes([tc << 4 | th]) + bytes(bits) + bytes(self.vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s
        return bytes(self.out)


def _cat(v):
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _valbits(v, s):
    return v if v >= 0 else v + (1 << s) - 1


def encode_jpeg(w, h, mcus, q=None, ncomp=1, dri=0):
    """mcus: raster list of MCUs, each a list of ncomp 64-entry zigzag
    QUANTIZED coefficient lists. Sampling always 1x1."""
    q = q if q is not None else [16] * 64
    # gather the symbol alphabet actually used (restart-aware DC diffs)
    dc_syms, ac_syms = set(), {0x00}
    preds = [0] * ncomp
    since_rst = 0
    for mi, mcu in enumerate(mcus):
        if dri and mi and mi % dri == 0:
            preds = [0] * ncomp
        for ci, coef in enumerate(mcu):
            dc_syms.add(_cat(coef[0] - preds[ci]))
            preds[ci] = coef[0]
            k = 1
            run = 0
            for k in range(1, 64):
                if coef[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms.add(0xF0)
                    run -= 16
                ac_syms.add(run << 4 | _cat(coef[k]))
                run = 0
    dct, act = _Table(sorted(dc_syms)), _Table(sorted(ac_syms))

    hdr = bytearray(b"\xff\xd8")
    hdr += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(q)
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])
    hdr += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    hdr += dct.dht(0, 0) + act.dht(1, 0)
    if dri:
        hdr += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += b"\x00\x3f\x00"
    hdr += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    out = bytearray(hdr)
    preds = [0] * ncomp
    bw = _BitWriter()
    rst = 0
    for mi, mcu in enumerate(mcus):
        if dri and mi and mi % dri == 0:
            out += bw.flush()
            out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            bw = _BitWriter()
            preds = [0] * ncomp
        for ci, coef in enumerate(mcu):
            diff = coef[0] - preds[ci]
            preds[ci] = coef[0]
            s = _cat(diff)
            bw.put(dct.codes[s], dct.ln)
            if s:
                bw.put(_valbits(diff, s), s)
            run = 0
            last_nz = max((k for k in range(64) if coef[k] != 0), default=0)
            for k in range(1, 64):
                if coef[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.put(act.codes[0xF0], act.ln)
                    run -= 16
                s = _cat(coef[k])
                bw.put(act.codes[run << 4 | s], act.ln)
                bw.put(_valbits(coef[k], s), s)
                run = 0
            if last_nz < 63:
                bw.put(act.codes[0x00], act.ln)  # EOB
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------- driving the decoder ----------

def _decode(payloads):
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    rows = decode_image(df, codec="jpeg").collect()
    return {r["doc_id"]: r for r in sorted(rows, key=lambda r: r["doc_id"])}


def _expected(w, h, mcus, q=None, ncomp=1):
    q = q if q is not None else [16] * 64
    mx = (w + 7) // 8
    plane = [[0] * (mx * 8) for _ in range(((h + 7) // 8) * 8)]
    for mi, mcu in enumerate(mcus):
        blk = _ref_block(mcu[0], q)
        by, bx = divmod(mi, mx)
        for y in range(8):
            for x in range(8):
                plane[by * 8 + y][bx * 8 + x] = int(blk[y, x])
    return [plane[y][x] for y in range(h) for x in range(w)]


def test_dc_only_block_exact():
    coef = [0] * 64
    coef[0] = 11
    raw = encode_jpeg(8, 8, [[coef]])
    out = _decode([raw])[0]
    assert (out["width"], out["height"], out["mode"]) == (8, 8, "jpeg-gray8")
    assert list(out["pixels"]) == [128 + 2 * 11] * 64


def test_ac_coefficients_match_independent_idct():
    coef = [0] * 64
    coef[0], coef[1], coef[5], coef[28] = 9, -3, 7, -2
    raw = encode_jpeg(8, 8, [[coef]])
    out = _decode([raw])[0]
    assert list(out["pixels"]) == _expected(8, 8, [[coef]])


def test_zrl_sixteen_zero_runs():
    coef = [0] * 64
    coef[0] = 5
    coef[40] = 4   # needs two ZRL symbols + run
    coef[63] = -1  # last coefficient: no EOB emitted
    raw = encode_jpeg(8, 8, [[coef]])
    out = _decode([raw])[0]
    assert list(out["pixels"]) == _expected(8, 8, [[coef]])


def test_multi_mcu_dc_prediction_and_placement():
    mcus = []
    for dc in (10, 13, 8, 15, 12, 9):  # 3x2 MCU grid, 24x16 px
        c = [0] * 64
        c[0] = dc
        c[2] = dc % 3 - 1
        mcus.append([c])
    raw = encode_jpeg(24, 16, mcus)
    out = _decode([raw])[0]
    assert (out["width"], out["height"]) == (24, 16)
    assert list(out["pixels"]) == _expected(24, 16, mcus)


def test_restart_markers_reset_predictors():
    mcus = []
    for dc in (20, -7, 14, 3):
        c = [0] * 64
        c[0] = dc
        mcus.append([c])
    raw = encode_jpeg(32, 8, mcus, dri=2)
    assert any(
        raw[i] == 0xFF and raw[i + 1] == 0xD0 for i in range(len(raw) - 1)
    )
    out = _decode([raw])[0]
    assert list(out["pixels"]) == _expected(32, 8, mcus)


def test_byte_stuffing_roundtrip():
    # deterministically search coefficient space until the encoder
    # emits a stuffed FF00 inside the entropy segment, then assert the
    # decoder un-stuffs it to an exact decode
    found = None
    for v in range(1, 256):
        for w in (0, 1, -1, 127, -127):
            coef = [0] * 64
            coef[0], coef[1] = v, w
            raw = encode_jpeg(8, 8, [[coef]])
            scan_start = raw.index(b"\xff\xda")
            if b"\xff\x00" in raw[scan_start:]:
                found = (coef, raw)
                break
        if found:
            break
    assert found, "no stuffed byte found across the search space"
    coef, raw = found
    out = _decode([raw])[0]
    assert list(out["pixels"]) == _expected(8, 8, [[coef]])


def test_three_component_luma_is_y_plane():
    y = [0] * 64
    y[0], y[3] = 12, 5
    cb = [0] * 64
    cb[0] = -30
    cr = [0] * 64
    cr[0] = 25
    raw = encode_jpeg(8, 8, [[y, cb, cr]], ncomp=3)
    out = _decode([raw])[0]
    assert out["mode"] == "jpeg-ycc8"
    assert list(out["pixels"]) == _expected(8, 8, [[y]])


def test_fail_loud_surface():
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    coef = [0] * 64
    coef[0] = 9
    good = encode_jpeg(8, 8, [[coef]])
    spark = _get_spark()

    def expect_raise(payload, match):
        # coalesce(1): a 1-row frame otherwise spreads over 32 partitions
        # and the 31 empty sibling tasks are KILLED when the real task
        # raises — under load the kill artifact (CancelledKeyException)
        # occasionally wins the race to be the reported stage failure and
        # hides the decoder's ValueError (flaked once in the r10-opt full
        # run, passed in isolation). One partition = one task = the
        # decoder's own exception is always the one propagated.
        df = spark.createDataFrame(
            [(0, bytearray(payload))], "doc_id long, payload binary"
        ).coalesce(1)
        with pytest.raises(Exception, match=match):
            decode_image(df, codec="jpeg").collect()

    expect_raise(b"\x89PNG not a jpeg", "not a JPEG")
    # flip SOF0 -> SOF2 (progressive)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    expect_raise(prog, "SOF0")
    # subsampled chroma: H/V byte 0x22
    sub = bytearray(good)
    sof_at = good.index(b"\xff\xc0")
    sub[sof_at + 11] = 0x22  # comp 1 H/V field
    expect_raise(bytes(sub), "subsampling")
    # 16-bit quant table (Pq=1)
    dqt = bytearray(good)
    dqt_at = good.index(b"\xff\xdb")
    dqt[dqt_at + 4] = 0x10
    expect_raise(bytes(dqt), "16-bit")
    # truncated entropy data (EOI + trailing scan bytes cut)
    expect_raise(good[:-4], "truncated|marker|Huffman")
    # truncated mid-segment (cut inside the SOS header)
    expect_raise(good[:good.index(b"\xff\xda") + 5], "truncated")
    # ADVICE r9: payload ending exactly on 0xFF (stuffing byte cut) must
    # raise the documented ValueError, not a raw IndexError
    da = good.index(b"\xff\xda")
    sos_len = (good[da + 2] << 8) | good[da + 3]
    ent = da + 2 + sos_len
    expect_raise(good[:ent] + b"\xff", "stuffing byte missing")
    # ADVICE r9: short DQT segment (7 of 64 entries) fails loud at parse
    # time, not as an IndexError later inside decode_block
    dqt_at = good.index(b"\xff\xdb")
    short_dqt = (
        good[:dqt_at + 2]
        + b"\x00\x0a"                      # new segment length: 2 + 8
        + good[dqt_at + 4:dqt_at + 12]     # Pq/Tq + 7 entries
        + good[dqt_at + 69:]               # rest of the stream
    )
    expect_raise(short_dqt, "truncated DQT")


def test_unknown_codec_rejects_pil():
    """The PIL gate is deleted (VERDICT r8 item 5): 'pil' is no longer
    a codec at all — unknown-codec ValueError, not a gated
    NotImplementedError."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    spark = _get_spark()
    df = spark.createDataFrame(
        [(0, bytearray(b"xx"))], "doc_id long, payload binary"
    )
    with pytest.raises(ValueError, match="unknown codec"):
        decode_image(df, codec="pil")


# ---------- MJPEG/AVI frame sampling (r9) ----------

def _mk_avi(frames, garbage_list=True):
    """Minimal RIFF/AVI around raw JPEG frame payloads, with optional
    decoy LISTs the walker must skip."""
    body = bytearray(b"movi")
    for fr in frames:
        body += b"00dc" + struct.pack("<I", len(fr)) + fr
        if len(fr) & 1:
            body += b"\x00"
    movi = b"LIST" + struct.pack("<I", len(body)) + bytes(body)
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + 56) + b"hdrl" \
        + b"avih" + struct.pack("<I", 56) + bytes(56)
    junk = b"JUNK" + struct.pack("<I", 6) + b"decoy\x00"
    inner = hdrl + (junk if garbage_list else b"") + movi
    return b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner


def _sample(payloads, every_n=2):
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        sample_frames,
    )

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    return sorted(
        map(tuple, sample_frames(df, every_n=every_n, codec="mjpeg-avi")
            .select("doc_id", "frame_idx", "width", "height", "mode")
            .collect())
    )


def test_mjpeg_avi_samples_every_nth_decoded_frame():
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        sample_frames,
    )

    frames = []
    coefs = []
    for dc in (10, 3, 14, 7, 12):
        c = [0] * 64
        c[0], c[4] = dc, dc % 3 - 1  # AC content: real IDCT per frame
        coefs.append(c)
        frames.append(encode_jpeg(8, 8, [[c]]))
    avi = _mk_avi(frames)
    spark = _get_spark()
    df = spark.createDataFrame(
        [(7, bytearray(avi))], "doc_id long, payload binary"
    )
    rows = sample_frames(df, every_n=2, codec="mjpeg-avi").collect()
    got = {r["frame_idx"]: list(r["pixels"]) for r in rows}
    assert sorted(got) == [0, 2, 4]
    for idx in (0, 2, 4):
        assert got[idx] == _expected(8, 8, [[coefs[idx]]]), idx
    assert all(r["mode"] == "jpeg-gray8" for r in rows)


def test_mjpeg_avi_fail_loud():
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        sample_frames,
    )

    spark = _get_spark()

    def expect_raise(payload, match):
        # coalesce(1): same sibling-task kill race as
        # test_fail_loud_surface — one partition means the decoder's
        # own exception is always the one the driver reports.
        df = spark.createDataFrame(
            [(0, bytearray(payload))], "doc_id long, payload binary"
        ).coalesce(1)
        with pytest.raises(Exception, match=match):
            sample_frames(df, every_n=1, codec="mjpeg-avi").collect()

    c = [0] * 64
    c[0] = 9
    good_frame = encode_jpeg(8, 8, [[c]])
    expect_raise(b"RIFX" + bytes(20), "not a RIFF/AVI")
    # an AVI whose movi list holds no stream-0 video chunks
    empty = _mk_avi([])
    expect_raise(empty, "no stream-0 video chunks")
    # truncated chunk: declared size runs past the payload
    avi = bytearray(_mk_avi([good_frame]))
    at = bytes(avi).index(b"00dc") + 4
    avi[at:at + 4] = struct.pack("<I", 10 ** 6)
    expect_raise(bytes(avi), "truncated chunk")
    # frame bytes that are not a JPEG
    bad = _mk_avi([b"not a jpeg frame"])
    expect_raise(bad, "not a JPEG")
    # every_n validation is driver-side and loud
    df = spark.createDataFrame(
        [(0, bytearray(_mk_avi([good_frame])))],
        "doc_id long, payload binary",
    )
    with pytest.raises(ValueError, match="every_n"):
        sample_frames(df, every_n=0, codec="mjpeg-avi")


def test_dc_fast_path_equals_general_idct():
    """The DC-only fast path must be bit-identical to the general IDCT
    for every DC value — pinned by comparing against a block whose AC
    coefficient is present-but-zero-valued... impossible to encode
    (zero AC never emits a symbol), so pin against the independent
    matrix IDCT across the full useful DC range instead."""
    for dc in range(-128, 129, 7):
        coef = [0] * 64
        coef[0] = dc
        raw = encode_jpeg(8, 8, [[coef]])
        out = _decode([raw])[0]
        assert list(out["pixels"]) == _expected(8, 8, [[coef]]), dc


_OFF_PATH_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from gene_level_metadata_pipeline_spark.operators.multimodal import (
    decode_image, sample_frames,
)
from tests.test_jpeg_decode import _mk_avi, encode_jpeg

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
coef = [0] * 64
coef[0] = 11
raw = encode_jpeg(8, 8, [[coef]])
img = spark.createDataFrame([(1, bytearray(raw))], "doc_id long, payload binary")
avi = spark.createDataFrame(
    [(7, bytearray(_mk_avi([raw, raw])))], "doc_id long, payload binary"
)
print("image", list(decode_image(img, codec="jpeg").collect()[0]["pixels"]))
frames = sample_frames(avi, every_n=1, codec="mjpeg-avi").collect()
print("frames", sorted(r["frame_idx"] for r in frames))
spark.stop()
"""


def test_decoders_run_where_workers_cannot_import_the_package(tmp_path):
    """decode_image's JPEG path and the MJPEG frame sampler run from a
    working directory outside the checkout, with the package only on the
    main process's sys.path: the Python workers get the decoders by
    value."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OFF_PATH_SCRIPT, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert f"image {[128 + 2 * 11] * 64}" in lines
    assert "frames [0, 1]" in lines
