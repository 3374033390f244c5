"""Pure-numpy geometry kernels (no shapely/GEOS in this container).

All functions are vectorized over numpy arrays so they run inside Arrow
batches of pandas UDFs with zero per-row Python.
"""

from eo_tools_spark.geo.wkb import (  # noqa: F401
    polygon_to_wkb,
    wkb_to_coords,
)
from eo_tools_spark.geo.geom import (  # noqa: F401
    points_in_polygon,
    polygon_intersects,
    polygon_area,
    bbox_intersects,
)
from eo_tools_spark.geo.cells import (  # noqa: F401
    MAX_RES,
    cell_of_points,
    cell_to_res_ixy,
    cell_parent,
    cell_children,
    cell_bounds,
    cover_bbox,
    cover_polygon,
    cell_ring,
    cell_id_sql,
)
