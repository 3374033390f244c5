"""Sentinel-2 band products: reflectance composites.

Reference: /root/reference/eo_tools/S2.py — process_s2_tiles decodes
bands to reflectance (engine: the tiles model), then
make_s2_color / _s2_color_composite (S2.py:236-289) stacks 3 reflectance
bands into an 8-bit color raster: channel = uint8(255 · clip(band, 0, 1)),
with the fixed composite recipes of _dict_composites (S2.py:258-268).
Here a composite is a 3-way tile join (equi-join on the tile id — the
bands share one grid) packing interleaved RGB bytes per tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

#: S2.py:258-268 verbatim recipes
COMPOSITES: dict[str, list[str]] = {
    "RGB": ["B4", "B3", "B2"],
    "CIR": ["B8", "B4", "B3"],
    "SWIR": ["B12", "B8A", "B4"],
    "agri": ["B11", "B8", "B2"],
    "geol": ["B12", "B11", "B2"],
    "bathy": ["B4", "B3", "B1"],
}

RGB_SCHEMA = StructType(
    [
        StructField("ty", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("data", BinaryType()),  # uint8 interleaved (th, tw, 3)
        StructField("th", IntegerType()),
        StructField("tw", IntegerType()),
        StructField("composite", StringType()),
    ]
)


def s2_color_composite(
    band_tiles: dict[str, DataFrame], name: str = "RGB"
) -> DataFrame:
    """3-band → uint8 color tiles: channel_i = uint8(255·clip(b_i, 0, 1))
    (S2.py:244-247). ``band_tiles`` maps band name → reflectance tile
    frame (tiles.TILE_SCHEMA, f4; each frame must hold ONE raster —
    guarded at execution, like sar2geo_tiles). Raises ValueError for an
    unknown composite and FileNotFoundError for a missing band — the
    reference's exact validation contract (S2.py:249-256, 283-287).
    Tiles missing from any band are silently absent from the composite
    (inner join) — check counts upstream for partial-ingest detection."""
    if name not in COMPOSITES:
        raise ValueError(
            f"Unknown composite name. Possible choices are {', '.join(COMPOSITES)}."
        )
    bands = COMPOSITES[name]
    missing = [b for b in bands if b not in band_tiles]
    if missing:
        raise FileNotFoundError(
            f"Missing band. Please create {', '.join(bands)} bands with process_s2_tiles."
        )

    joined = None
    for i, b in enumerate(bands):
        side = band_tiles[b].select(
            "ty", "tx",
            F.col("data").alias(f"d{i}"), F.col("th"), F.col("tw"),
        )
        if joined is None:
            joined = side
        else:
            joined = joined.join(side.drop("th", "tw"), ["ty", "tx"])

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = key
        if len(pdf) > 1:
            # a band frame held several rasters → the (ty, tx) join
            # multiplied rows; composing interleaved rasters is garbage
            raise ValueError(
                f"s2_color_composite: {len(pdf)} rows for tile ({ty}, {tx}) "
                "— a band frame holds more than one raster; filter each "
                "band_tiles value to a single raster_id first"
            )
        r = pdf.iloc[0]
        th, tw = int(r.th), int(r.tw)
        chans = []
        for i in range(3):
            band = np.frombuffer(bytes(r[f"d{i}"]), dtype=np.float32).reshape(th, tw)
            chans.append((255 * band.clip(0, 1)).astype(np.uint8))
        rgb = np.stack(chans, axis=-1)
        return pd.DataFrame(
            [(int(ty), int(tx), rgb.tobytes(), th, tw, name)],
            columns=[f.name for f in RGB_SCHEMA.fields],
        )

    # groupBy reuses the join's (ty, tx) hash partitioning — no extra
    # exchange — and gives pack() the full row set per tile for the guard
    return joined.groupBy("ty", "tx").applyInPandas(pack, schema=RGB_SCHEMA)
