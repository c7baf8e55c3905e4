"""Multimodal (image) column operators.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) — the
north-star input schema. The Spark-side plumbing (schemas, mapInPandas
batch shape, partition sizing) is real and tested; only the *external
codec* step is stubbed, because no image libraries exist in this container:

  * fmt='png'  — decoded for real by the pure-python codec in sources.synth
                 (RGB8 filter-0 subset; PSNR-checkable).
  * fmt='raw'  — deterministic pseudo-decode: the 64-byte signature blob
                 regenerates the gradient pixels it was derived from.
  * fmt='jpeg' (and anything else) — raises NotImplementedError at the
                 decode call site; swap in cv2/PIL here on a real cluster.

Batch-size note for 100 TB: decoded pixels are ~w*h*3 bytes; cap
spark.sql.execution.arrow.maxRecordsPerBatch (session.py sets 65536) AND
feed partitions sized by files.maxPartitionBytes so a batch of decoded
frames stays far below executor memory. Feature outputs are small (stats
vectors), so the decode stage should always be fused with its consumer in
one mapInPandas — never materialize a pixels column to shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from proj_spark.sources.synth import _gradient_pixels, decode_png


def decode_image(blob: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes -> (h, w, 3) uint8. The codec boundary — STUB for fmt not
    decodable in this container (clearly marked per task spec)."""
    if fmt == "png":
        return decode_png(blob)
    if fmt == "raw":
        # signature blob: 8 x uint64 phash replicas -> regenerate gradient
        ph = int(np.frombuffer(blob[:8], dtype=np.uint64)[0])
        return _gradient_pixels(ph, w, h)
    raise NotImplementedError(
        f"decode for fmt={fmt!r} requires an image library not present in "
        "this container; plug cv2.imdecode/PIL.Image.open here"
    )



FEATURE_SCHEMA = (
    "image_id string, mean_r double, mean_g double, mean_b double, "
    "std_gray double, edge_energy double, aspect double"
)


def image_features(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """Per-image channel stats + a cheap gradient-energy feature.

    mapInPandas keeps decode + reduce fused in one pass; undecodable rows
    (foreign fmt) are skipped unless ``strict``.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("image_id", "mean_r", "mean_g", "mean_b",
                                    "std_gray", "edge_energy", "aspect")}
            for img_id, blob, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                try:
                    px = decode_image(blob, int(w), int(h), fmt).astype(np.float64)
                except NotImplementedError:
                    if strict:
                        raise
                    continue
                gray = px.mean(axis=2)
                gy, gx = np.gradient(gray)
                rows["image_id"].append(img_id)
                rows["mean_r"].append(px[..., 0].mean())
                rows["mean_g"].append(px[..., 1].mean())
                rows["mean_b"].append(px[..., 2].mean())
                rows["std_gray"].append(gray.std())
                rows["edge_energy"].append(float(np.hypot(gx, gy).mean()))
                rows["aspect"].append(float(w) / float(h))
            yield pd.DataFrame(rows)

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )
