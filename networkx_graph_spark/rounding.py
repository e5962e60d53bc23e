"""Round-half-up discipline matching the reference engine.

The reference defines ``ROUND(v, scale) = floor(v * scale + 0.5) / scale``
(explicitly NOT ``std::round``; see /root/reference/src/main.cpp:81-89) with
``round_n=3`` => ``scale = 1e3`` by default (/root/reference/src/main.cpp:345-350).
``round_n=None`` disables rounding; negative ``round_n`` gives scales < 1
(e.g. ``round_n=-1`` => scale 0.1, /root/reference/tests/test_basic.py:484-500).

Node lengths are rounded at ingest (/root/reference/src/main.cpp:366-368);
path dists/offsets are rounded at return (/root/reference/src/main.cpp:616-618).

We provide both a driver-side Python function and a Catalyst Column
expression so the exact same grid is applied JVM-side (whole-stage codegen,
no Python UDF in the hot path).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_scale(round_n: Optional[int]) -> Optional[float]:
    """round_n -> multiplicative scale (10**round_n), None disables."""
    if round_n is None:
        return None
    return float(10.0**round_n)


def round_half_up(v: float, scale: Optional[float]) -> float:
    """Driver-side ROUND: floor(v*scale + 0.5)/scale."""
    if scale is None or v is None:
        return v
    return math.floor(v * scale + 0.5) / scale


def clip(lo: float, v: float, hi: float) -> float:
    """Reference CLIP (/root/reference/src/main.cpp:91-95)."""
    return max(lo, min(v, hi))


def round_col(col: Column, scale: Optional[float]) -> Column:
    """Column-side ROUND half-up on the same grid as the reference.

    ``F.floor`` on DOUBLE returns LONG; the arithmetic stays in whole-stage
    codegen. NULL-safe (floor(NULL) is NULL).
    """
    if scale is None:
        return col
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)

