"""Shared check for the grid modules' ``cell_to_children`` contract:
all descendants at ``child_res`` of cells that share one resolution,
flat and cell-major (every descendant of ``cells[0]`` first)."""

from __future__ import annotations

import numpy as np


def child_depth(res, child_res: int, max_res: int) -> int:
    """Levels between the (uniform) cell resolution ``res`` (array)
    and ``child_res``; raises on mixed input or an out-of-range
    ``child_res``."""
    r0 = int(res[0])
    if np.any(res != r0):
        raise ValueError("cell_to_children needs uniform input res")
    if child_res < r0:
        raise ValueError("child_res coarser than cell res")
    if child_res > max_res:
        raise ValueError(f"child_res {child_res} exceeds MAX_RES {max_res}")
    return int(child_res) - r0
