"""Scalar reference for the batched connected-component and layout
kernels.

These are the per-component and per-word implementations that
``ocrs_spark.kernels.contours`` and ``ocrs_spark.kernels.layout``
replaced with array passes: a Python union-find over row runs, one Moore
trace per component on its own padded crop, a stack-driven
Douglas-Peucker per contour, and line chaining that rescans the word
pool for every link. They are test code only;
``tests/test_batched_kernels.py`` holds the batched kernels to them
exactly.
"""

from __future__ import annotations

import math

import numpy as np

from ocrs_spark.geometry import Line, leftmost_edge, rightmost_edge
from ocrs_spark.kernels.contours import _MOORE, _TRACE_TABLE, min_area_rect
from ocrs_spark.kernels.layout import MAX_H_OVERLAP, OVERLAP_THRESHOLD


def _component_runs(mask: np.ndarray):
    """Row-run union-find labeling. Returns (runs_by_label, h, w) where
    runs_by_label[i] is the list of (y, start, end) half-open runs of
    component i+1, in raster order of first appearance."""
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape

    # All run boundaries in one 2D diff (row-major nonzero order pairs
    # starts with ends per row).
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    diff = padded[:, 1:] - padded[:, :-1]
    sy, sx = np.nonzero(diff == 1)
    _, ex = np.nonzero(diff == -1)
    n = len(sy)

    parent = list(range(n + 1))  # union-find over run ids 1..n

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    runs = list(zip(sy.tolist(), sx.tolist(), ex.tolist()))
    prev: list[tuple[int, int, int]] = []  # (start, end, run_id) of row-1
    cur: list[tuple[int, int, int]] = []
    cur_row = -1
    for i, (y, s, e) in enumerate(runs):
        rid = i + 1
        if y != cur_row:
            prev = cur if y == cur_row + 1 else []
            cur = []
            cur_row = y
        # 8-connectivity: overlap with previous row extended by 1 col.
        for ps, pe, pid in prev:
            if ps < e + 1 and pe > s - 1:
                union(rid, pid)
        cur.append((s, e, rid))

    # Resolve roots to dense component labels in raster order.
    root_to_label: dict[int, int] = {}
    runs_by_label: list[list[tuple[int, int, int]]] = []
    for i, (y, s, e) in enumerate(runs):
        r = find(i + 1)
        lbl = root_to_label.get(r)
        if lbl is None:
            lbl = len(runs_by_label)
            root_to_label[r] = lbl
            runs_by_label.append([])
        runs_by_label[lbl].append((y, s, e))
    return runs_by_label, h, w


def _neighbor_bits(crop: np.ndarray) -> bytes:
    """Flat row-major uint8 mask per cell: bit i set iff the Moore
    neighbor i is foreground. Pure slice arithmetic (no per-cell Python
    objects); crop carries a 1-pixel False border."""
    g = crop.view(np.uint8) if crop.dtype == bool else crop.astype(np.uint8)
    h, w = g.shape
    nb = np.zeros((h, w), np.uint8)
    for i, (dx, dy) in enumerate(_MOORE):
        ys0, ys1 = max(0, -dy), h - max(0, dy)
        xs0, xs1 = max(0, -dx), w - max(0, dx)
        nb[ys0:ys1, xs0:xs1] |= g[ys0 + dy : ys1 + dy, xs0 + dx : xs1 + dx] << i
    return nb.tobytes()


def _trace_on_grid(crop: np.ndarray, sx: int, sy: int, max_steps: int) -> list[tuple[int, int]]:
    """Moore-neighbor tracing (clockwise, Jacob's stopping criterion) on
    a padded boolean array (crop[y, x]; 1-pixel False border).
    ``(sx, sy)`` is the topmost-leftmost foreground pixel. Returns
    border pixels (x, y) in traversal order.

    The per-step neighbor scan is a single lookup in _TRACE_TABLE keyed
    by the precomputed (vectorized) neighborhood bitmask — the per-step
    Python work is one bytes index + one table fetch instead of an
    8-neighbor scan. Returns an (N, 2) int32 array (flat int appends
    into array.array beat building N coordinate tuples)."""
    import array as _array

    nb = _neighbor_bits(crop)
    w = crop.shape[1]
    table = _TRACE_TABLE
    coords = _array.array("i", (sx, sy))
    push = coords.append
    cx, cy = sx, sy
    bdir = 0  # entered the start pixel from the West
    fmx = fmy = -1  # first move (Jacob's stopping criterion)
    for _ in range(max_steps):
        step = table[bdir][nb[cy * w + cx]]
        if step is None:
            break  # isolated pixel
        dx, dy, bdir = step
        nx, ny = cx + dx, cy + dy
        if cx == sx and cy == sy:
            if fmx < 0:
                fmx, fmy = nx, ny
            elif nx == fmx and ny == fmy:
                break  # completed the loop
        cx, cy = nx, ny
        push(nx)
        push(ny)
    else:
        raise RuntimeError("contour tracing did not terminate")
    return np.frombuffer(coords, dtype=np.int32).reshape(-1, 2)


def find_contours_external(mask: np.ndarray) -> list[np.ndarray]:
    """Outer contour of each 8-connected component, as ordered (N, 2)
    int32 arrays of (x, y) border pixels (counterpart of rten-imageproc
    find_contours with RetrievalMode::External, used at detection.rs:46).

    Each component is traced on its own padded bounding-box crop (built
    from the labeling runs), so cost scales with component perimeter,
    not image area."""
    runs_by_label, h, w = _component_runs(mask)
    contours = []
    for runs in runs_by_label:
        y0 = runs[0][0]
        y1 = runs[-1][0]
        x0 = min(s for _, s, _ in runs)
        x1 = max(e for _, _, e in runs)
        ch, cw = y1 - y0 + 1, x1 - x0
        crop = np.zeros((ch + 2, cw + 2), dtype=bool)
        for y, s, e in runs:
            crop[y - y0 + 1, s - x0 + 1 : e - x0 + 1] = True
        # Start = topmost-leftmost pixel (raster order of first run).
        sx, sy = runs[0][1] - x0 + 1, 1
        pts = _trace_on_grid(crop, sx, sy, 4 * ((ch + 2) * (cw + 2) + 8))
        contours.append(pts + np.array([x0 - 1, y0 - 1], dtype=np.int32))
    return contours


def simplify_polyline(points, eps: float) -> np.ndarray:
    """Douglas-Peucker simplification, endpoints kept (counterpart of
    rten-imageproc simplify_polygon at detection.rs:50). Accepts a
    point list or an (N, 2) array; returns an (M, 2) float64 array.

    Pure-Python DP over scalar floats: contours are a few hundred
    points, where per-call numpy overhead dwarfs the arithmetic. The
    per-element float ops (sub, mul, abs, divide-by-seg_len, strict >
    first-max) are the exact IEEE sequence of the vectorized form this
    replaces, so the kept set is bit-identical."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    xs = pts[:, 0].tolist()
    ys = pts[:, 1].tolist()
    keep = [False] * n
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        x0, y0 = xs[i0], ys[i0]
        ex, ey = xs[i1] - x0, ys[i1] - y0
        seg_len = math.hypot(ex, ey)
        best = -1.0
        bi = -1
        if seg_len == 0:
            for j in range(i0 + 1, i1):
                d = math.hypot(xs[j] - x0, ys[j] - y0)
                if d > best:
                    best, bi = d, j
        else:
            for j in range(i0 + 1, i1):
                d = abs(ex * (ys[j] - y0) - ey * (xs[j] - x0)) / seg_len
                if d > best:
                    best, bi = d, j
        if best > eps:
            keep[bi] = True
            stack.append((i0, bi))
            stack.append((bi, i1))
    return pts[keep]


def words_from_mask(binary: np.ndarray, expand_dist: float = 3.0, min_area: float = 100.0):
    """Word rects of one thresholded mask: trace -> simplify(eps=2) ->
    min-area rect -> expand -> area filter (detection.rs:41-62)."""
    rects = []
    for contour in find_contours_external(binary):
        rect = min_area_rect(simplify_polyline(contour, 2.0))
        if rect is None:
            continue
        rect = rect.resize(rect.width + 2 * expand_dist, rect.height + 2 * expand_dist)
        if rect.area() >= min_area:
            rects.append(rect)
    return rects


class _RectGeom:
    __slots__ = ("rect", "left", "lex", "rex", "ly0", "ly1", "ry0", "ry1")

    def __init__(self, rect):
        self.rect = rect
        self.left = int(rect.bounding_rect().left)
        ledge = leftmost_edge(rect)
        redge = rightmost_edge(rect)
        self.lex = ledge.center()[0]
        self.rex = redge.center()[0]
        self.ly0 = min(ledge.y0, ledge.y1)
        self.ly1 = max(ledge.y0, ledge.y1)
        self.ry0 = min(redge.y0, redge.y1)
        self.ry1 = max(redge.y0, redge.y1)


def group_into_lines(rects, separators):
    """Greedy line chaining (layout_analysis.rs:19-71): each link scans
    the whole remaining pool for the candidate with the smallest
    int(cx), earliest in the pool, not across a separator."""
    pool = sorted((_RectGeom(r) for r in rects), key=lambda g: g.left)
    lines = []
    while pool:
        line = [pool.pop(0)]
        while True:
            last = line[-1]
            best_i, best_key = None, None
            for i, g in enumerate(pool):
                if not (
                    g.rect.cx > last.rect.cx
                    and g.lex - last.rex >= -MAX_H_OVERLAP
                    and min(last.ry1, g.ly1) - max(last.ry0, g.ly0) >= OVERLAP_THRESHOLD
                ):
                    continue
                key = int(g.rect.cx)
                if best_key is not None and key >= best_key:
                    continue
                if any(
                    Line(last.rect.cx, last.rect.cy, g.rect.cx, g.rect.cy).intersects(s)
                    for s in separators
                ):
                    continue
                best_i, best_key = i, key
            if best_i is None:
                break
            line.append(pool.pop(best_i))
        lines.append(line)
    return [[g.rect for g in line] for line in lines]
