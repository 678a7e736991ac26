"""Dependency-free 2-D geometry core: object model, WKT/WKB codecs,
spatial algorithms. See SURVEY.md §1 for the data-model mapping from the
reference (/root/reference/src/geo/)."""

from .geom import Geometry, GEOM_TYPES, TYPE_CODE
from .wkt import from_wkt, to_wkt, to_ewkt, fmt_num
from .wkb import from_wkb, to_wkb, wkb_srid
from . import algos

__all__ = [
    "Geometry", "GEOM_TYPES", "TYPE_CODE",
    "from_wkt", "to_wkt", "to_ewkt", "fmt_num",
    "from_wkb", "to_wkb", "wkb_srid",
    "algos",
]
