"""Exhaustive error-bound sweep for multimodal_jpeg_color_roundtrip.

The query generates per-doc RGB gradients with
  w = 8 + id%9, h = 8 + id%7,
  R = 20 + id%40 + 2x + 3y
  G = 10 + (id%40)//2 + 3x + 2y
  B = 40 + id%20 + x + 4y
so the (width, height, pixel-values) class of any doc_id is
determined by id mod lcm(9, 7, 40) = 2520. Sweeping all 2520 classes
measures the exact worst-case roundtrip error at the query's quality
setting, for BOTH sampling modes the query alternates between —
the fixed deterministic facts the oracle pins: at quality 90, worst
3 for 4:4:4 and 5 for 4:2:0.

Usage: python tools/jpeg_color_sweep.py [quality]   (default 90)"""
import os
import sys

import numpy as np

# Anchor on the repo root (this file's parent's parent) so the tool
# works from any cwd, not just the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdfs_parquet_importer_spark.operators import multimodal as M


def rgb_for(doc_id: int) -> tuple[int, int, bytes]:
    """The query's (width, height, RGB gradient) for one doc_id."""
    w, h = 8 + doc_id % 9, 8 + doc_id % 7
    return w, h, M._rgb_gradient(doc_id, w, h)


def main() -> int:
    quality = int(sys.argv[1]) if len(sys.argv) > 1 else 90
    for sub in ("444", "420"):
        worst, worst_id = -1, -1
        for did in range(2520):
            w, h, rgb = rgb_for(did)
            _, _, dec = M.decode_jpeg_rgb(
                M.encode_jpeg_rgb(rgb, w, h, quality=quality, subsampling=sub)
            )
            err = int(
                np.abs(
                    np.frombuffer(dec, np.uint8).astype(np.int64)
                    - np.frombuffer(rgb, np.uint8).astype(np.int64)
                ).max()
            )
            if err > worst:
                worst, worst_id = err, did
        print(
            f"quality={quality} subsampling={sub}: "
            f"worst max_abs_err={worst} at class {worst_id}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
