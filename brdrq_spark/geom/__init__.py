"""From-scratch 2-D geometry kernel (pure NumPy / stdlib).

The reference (brdrQ) delegates all geometry math to Shapely/GEOS via the
``brdr`` package; this sandbox has neither, and the build mandate is a
from-scratch implementation anyway. The kernel provides exactly the
operations the alignment semantics need (reference observable contract:
plugin/brdrq/brdrq_utils.py:1144-1162 ProcessResult slots, buffer at
plugin/brdrq/brdrq_utils.py:1569-1590):

* ``RingSet`` representation: a (multi)polygon is a flat list of rings,
  each an ``(n, 2)`` float64 array, outer rings CCW, holes CW
  (orientation-encoded, nonzero winding rule).
* boolean ops (union / intersection / difference / symmetric difference)
  via a snap-rounded scanbeam trapezoidal decomposition (Vatti-style),
* buffer / erosion / opening via boundary-capsule unions,
* metrics: area, perimeter, bbox, point-in-polygon, min distance,
* WKB / WKT codecs.
"""

from brdrq_spark.geom.core import (
    SNAP,
    bbox,
    bbox_distance,
    min_distance,
    point_in_rings,
    ring_area,
    rings_area,
    rings_perimeter,
    snap_ring,
)
from brdrq_spark.geom.clip import boolean_op, normalize
from brdrq_spark.geom.buffer import buffer_rings, erode_rings, open_rings
from brdrq_spark.geom.wkb import (
    rings_from_wkb,
    rings_to_wkb,
    rings_from_wkt,
    rings_to_wkt,
)

__all__ = [
    "SNAP",
    "bbox",
    "bbox_distance",
    "boolean_op",
    "buffer_rings",
    "erode_rings",
    "min_distance",
    "normalize",
    "open_rings",
    "point_in_rings",
    "ring_area",
    "rings_area",
    "rings_perimeter",
    "rings_from_wkb",
    "rings_from_wkt",
    "rings_to_wkb",
    "rings_to_wkt",
    "snap_ring",
]
