"""Endpoints encoding + the A* heuristic surface.

The reference dispatches to ``__astar`` when ``endpoints`` are provided
(/root/reference/src/main.cpp:606-609, kernel :1246-1351): the heuristic
is the cheap-ruler-scaled 3-D Euclidean distance to the target's head
point (:158-171) used only for heap ORDERING — with an admissible
heuristic the returned path equals Dijkstra's, which the reference's own
API contract relies on.

In a fixpoint superstep kernel there is no heap to order, so endpoints
change no result: this module is the ``Endpoints`` encode surface and the
reference heuristic, kept for API parity. No kernel prunes with it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from ..graph import SparkDiGraph

_PI = 3.14159265358979323846
_RE = 6378.137
_FE = 1.0 / 298.257223563
_E2 = _FE * (2 - _FE)
_RAD = _PI / 180.0
_MUL = _RAD * _RE * 1000.0


def cheap_ruler_k(latitude: float) -> tuple[float, float]:
    """Flat-earth scale factors (meters/degree lon, meters/degree lat) —
    exact port of the published cheap-ruler constants
    (/root/reference/src/main.cpp:158-171)."""
    coslat = math.cos(latitude * _RAD)
    w2 = 1.0 / (1.0 - _E2 * (1.0 - coslat * coslat))
    w = math.sqrt(w2)
    return (_MUL * w * coslat, _MUL * w * w2 * (1.0 - _E2))


@dataclass
class Endpoints:
    """node id -> (head xyz, tail xyz) (/root/reference/src/main.cpp:173-179)."""

    endpoints: dict[int, tuple[tuple[float, float, float], tuple[float, float, float]]]
    is_wgs84: bool = True


def encode_endpoints(
    graph: SparkDiGraph,
    endpoints: dict[str, tuple],
    is_wgs84: bool = True,
) -> Endpoints:
    """(/root/reference/src/main.cpp:480-492)."""
    out = {}
    for node, (head, tail) in endpoints.items():
        nid = graph.node_id(node)
        if nid is None:
            continue
        out[nid] = (tuple(float(x) for x in head), tuple(float(x) for x in tail))
    return Endpoints(out, is_wgs84)


def heuristic(ep: Endpoints, node: int, target: int) -> float:
    """h(node): reference-exact geometry
    (/root/reference/src/main.cpp:1262-1279) — distance from the node's
    TAIL point (``std::get<1>``) to the target's HEAD point
    (``std::get<0>``), cheap-ruler scale factors evaluated at the TARGET
    head's latitude. 0 when either endpoint is unknown (admissible
    fallback; the reference would throw on a missing endpoint)."""
    a = ep.endpoints.get(node)
    b = ep.endpoints.get(target)
    if a is None or b is None:
        return 0.0
    _, (cx, cy, cz) = a  # CUR = node tail
    (ex, ey, ez), _ = b  # END = target head
    dx, dy, dz = ex - cx, ey - cy, ez - cz
    if ep.is_wgs84:
        kx, ky = cheap_ruler_k(ey)
        dx, dy = dx * kx, dy * ky
    return math.sqrt(dx * dx + dy * dy + dz * dz)
