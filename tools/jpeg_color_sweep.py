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
3 for 4:4:4 and 5 for 4:2:0. Each mode is one batch through the
roundtrip stage's codec (multimodal._roundtrip_batch).

Usage: python tools/jpeg_color_sweep.py [quality]   (default 90)"""
import os
import sys

# Anchor on the repo root (this file's parent's parent) so the tool
# works from any cwd, not just the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdfs_parquet_importer_spark.operators import multimodal as M


def main() -> int:
    quality = int(sys.argv[1]) if len(sys.argv) > 1 else 90
    ids = range(2520)
    widths = [8 + i % 9 for i in ids]
    heights = [8 + i % 7 for i in ids]
    for sub in ("444", "420"):
        rows = M._roundtrip_batch(ids, widths, heights, [sub] * 2520, quality)[0]
        errs = [r[4] for r in rows]
        worst = max(errs)
        print(
            f"quality={quality} subsampling={sub}: "
            f"worst max_abs_err={worst} at class {errs.index(worst)}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
