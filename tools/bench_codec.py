"""Codec-core throughput microbenchmark (r10, VERDICT r9 item 1).

The Spark bench's image/video flagships decode TINY oracle-friendly
payloads (2x2 PNGs, 16x8 two-block JPEGs), so their wall time is mostly
Spark fixed cost — the number that actually bounds a 100 TB multimodal
corpus is the per-image decode cost at realistic sizes. This tool
measures exactly that, driver-side, for the shared codec cores:

* JPEG 64x64, textured (10 AC coefs/block) and flat (DC-only) variants
* PNG 256x256 RGB, all-five-filters and Sub/Up/None-only variants
* BMP 256x256

Run: python tools/bench_codec.py [--json PATH]

The r10 vectorization's old-vs-new deltas (measured once against the
r9 scalar implementation at commit 0e7c7d1, byte-identical outputs
A/B-verified on randomized images) are recorded in
certification/codec_speedup_r10.json; this tool re-measures the
CURRENT cores so future rounds can spot codec regressions without
keeping the old implementation around.
"""

from __future__ import annotations

import json
import os
import random
import struct
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _best(fn, reps=5, inner=10):
    b = 1e9
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(inner):
            fn()
        b = min(b, (time.perf_counter() - t0) / inner)
    return b


def _mk_bmp(w, h, pix):
    stride = (w * 3 + 3) // 4 * 4
    data = bytearray()
    for y in range(h):
        row = bytearray()
        for p in pix[y * w:(y + 1) * w]:
            row += bytes(p)
        row += b"\x00" * (stride - len(row))
        data += row
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0
    )
    off = 14 + len(info)
    return (
        b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        + info + bytes(data)
    )


class _FakeDF:
    """Duck-typed stand-in: decode_image only calls .mapInPandas, so
    handing back the batch function lets the cores run Spark-free."""

    def mapInPandas(self, fn, schema):
        return fn


def _run_batches(fn, payloads, reps=3):
    import pandas as pd

    batch = [pd.DataFrame(
        {"doc_id": range(len(payloads)), "payload": payloads}
    )]
    b = 1e9
    for _ in range(reps):
        t0 = time.perf_counter()
        list(fn(iter(batch)))
        b = min(b, time.perf_counter() - t0)
    return b


def main() -> int:
    from gene_level_metadata_pipeline_spark.operators import (
        multimodal as mm,
    )
    from test_jpeg_decode import encode_jpeg
    from test_png_decode import _filter_encode, _png

    random.seed(1)
    res: dict = {}

    mcus = []
    for _ in range(64):
        coef = [0] * 64
        coef[0] = random.randint(-50, 50)
        for _ in range(10):
            coef[random.randint(1, 63)] = random.randint(-30, 30)
        mcus.append([coef])
    jp = encode_jpeg(64, 64, mcus)
    mcus_flat = [
        [[random.randint(-50, 50)] + [0] * 63] for _ in range(64)
    ]
    jp_flat = encode_jpeg(64, 64, mcus_flat)
    res["jpeg_64x64_textured_ms"] = round(
        _best(lambda: mm._jpeg_decode(jp)) * 1e3, 2
    )
    res["jpeg_64x64_flat_ms"] = round(
        _best(lambda: mm._jpeg_decode(jp_flat)) * 1e3, 2
    )

    w = h = 256
    px = [random.randint(0, 255) for _ in range(w * h * 3)]
    sl_all = _filter_encode(
        px, w, h, 3, [random.choice([0, 1, 2, 3, 4]) for _ in range(h)]
    )
    sl_fast = _filter_encode(
        px, w, h, 3, [random.choice([0, 1, 2]) for _ in range(h)]
    )
    png_fn = mm.decode_image(_FakeDF(), codec="png")
    res["png_256x256_rgb_allfilters_ms"] = round(
        _run_batches(png_fn, [_png(w, h, 2, sl_all)]) * 1e3, 1
    )
    res["png_256x256_rgb_sub_up_none_ms"] = round(
        _run_batches(png_fn, [_png(w, h, 2, sl_fast)]) * 1e3, 1
    )

    bmp = _mk_bmp(
        256, 256,
        [(random.randint(0, 255),) * 3 for _ in range(256 * 256)],
    )
    bmp_fn = mm.decode_image(_FakeDF(), codec="bmp")
    res["bmp_256x256_ms"] = round(_run_batches(bmp_fn, [bmp]) * 1e3, 1)

    out = None
    if "--json" in sys.argv:
        out = sys.argv[sys.argv.index("--json") + 1]
    print(json.dumps(res, indent=1))
    if out:
        os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
        with open(out, "w") as f:
            json.dump(res, f, indent=1)
        print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
