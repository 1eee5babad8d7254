"""29 — Image codecs: every common image format decoded for REAL with
zero external dependencies (no reference analog — borsa has no media
path; this is the training-data-pipeline side of the engine).

BMP, PPM, PNG (zlib inflate + full scanline unfilter), baseline JPEG
(Huffman + IDCT + YCbCr) and still GIF (LZW) all decode in pure Python
+ numpy inside Arrow-batched mapInPandas stages. The demo builds one
asset of each kind, extracts features and pHashes the images.

Run: python examples/29_multimodal_codecs.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from borsa_spark import schemas  # noqa: E402
from borsa_spark.functions import multimodal as mm  # noqa: E402
from borsa_spark.functions.gif import encode_gif  # noqa: E402
from borsa_spark.functions.jpeg import encode_jpeg  # noqa: E402
from borsa_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("ex29_multimodal")

    gy, gx = np.mgrid[0:24, 0:32]
    sm = 128 + 90 * np.sin(gy / 5.0) * np.cos(gx / 7.0)
    img = np.stack([sm, sm * 0.7 + 30, 255 - sm], axis=2)
    img = img.clip(0, 255).astype(np.uint8)

    rows = [
        (1, "image", "image/bmp", mm.encode_bmp(6, 4, (200, 40, 40)),
         None, None, None, None, None),
        (2, "image", "image/png",
         mm.encode_png_pixels(img, filter_type=4), None, None, None,
         None, None),
        (3, "image", "image/jpeg", encode_jpeg(img, quality=90),
         None, None, None, None, None),
        # GIF needs a palette: quantize the gradient to <= 64 colors
        (4, "image", "image/gif", encode_gif(img // 64 * 64),
         None, None, None, None, None),
    ]
    assets = spark.createDataFrame(rows, schema=schemas.MEDIA_ASSETS)

    print("== image features (real decode per magic bytes) ==")
    mm.image_features(assets).orderBy("asset_id").show(truncate=False)

    # PNG and JPEG of the SAME pixels: pHash lands within near-dup range
    ph = {r.asset_id: r.phash for r in mm.image_phash(assets).collect()}
    ham = bin(ph[2] ^ ph[3]).count("1")
    print(f"pHash(PNG) vs pHash(JPEG q90) of the same image: "
          f"hamming {ham}/64 (pairs at <= 6)")
    spark.stop()


if __name__ == "__main__":
    main()
