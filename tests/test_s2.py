"""S2 color composites vs the reference recipe (S2.py:236-289)."""

import numpy as np
import pytest

from eo_tools_spark.operators.s2 import COMPOSITES, s2_color_composite
from eo_tools_spark.operators.tiles import raster_to_tiles


def band_raster(seed, lo=-0.1, hi=1.3, n=48):
    rng = np.random.default_rng(seed)
    # values outside [0,1] exercise the clip
    return rng.uniform(lo, hi, (n, n)).astype(np.float32)


class TestS2Composite:
    def test_rgb_matches_reference_recipe(self, spark):
        bands = {}
        arrays = {}
        for i, b in enumerate(["B4", "B3", "B2"]):
            arrays[b] = band_raster(100 + i)
            bands[b] = raster_to_tiles(spark, arrays[b], b, 16)
        out = s2_color_composite(bands, "RGB").toPandas()
        assert set(out["composite"]) == {"RGB"}
        got = np.zeros((48, 48, 3), dtype=np.uint8)
        for r in out.itertuples():
            rgb = np.frombuffer(r.data, dtype=np.uint8).reshape(r.th, r.tw, 3)
            got[r.ty * 16 : r.ty * 16 + r.th, r.tx * 16 : r.tx * 16 + r.tw] = rgb
        for i, b in enumerate(["B4", "B3", "B2"]):
            exp = (255 * arrays[b].clip(0, 1)).astype(np.uint8)
            np.testing.assert_array_equal(got[:, :, i], exp)

    def test_all_recipes_agree_with_dict(self):
        assert COMPOSITES["SWIR"] == ["B12", "B8A", "B4"]
        assert COMPOSITES["bathy"] == ["B4", "B3", "B1"]

    def test_unknown_composite_raises(self, spark):
        with pytest.raises(ValueError, match="Unknown composite"):
            s2_color_composite({}, "sepia")

    def test_missing_band_raises(self, spark):
        b = {"B4": None, "B3": None}  # B2 missing
        # FileNotFoundError — the reference's exact exception
        # (_check_bands_exist, S2.py:251-255)
        with pytest.raises(FileNotFoundError, match="Missing band"):
            s2_color_composite(b, "RGB")

    def test_multi_raster_band_frame_raises(self, spark):
        """A band frame holding two rasters must fail loudly, not
        silently interleave pixels."""
        from pyspark.sql import functions as F

        bands = {}
        for i, b in enumerate(["B4", "B3", "B2"]):
            one = raster_to_tiles(spark, band_raster(i), b, 16)
            two = raster_to_tiles(spark, band_raster(50 + i), b + "x", 16)
            bands[b] = one.unionByName(two) if b == "B4" else one
        with pytest.raises(Exception, match="more than one raster"):
            s2_color_composite(bands, "RGB").collect()

    def test_empty_grid_burst_polygons(self):
        from eo_tools_spark.sources.annotation import burst_polygons

        assert burst_polygons([]) == {}
