"""Connected components, contour tracing, polygon simplification,
min-area rects, and polygon rasterization — pure numpy/Python.

Behavioral counterparts of the rten-imageproc routines used by
``ocrs/src/detection.rs:41-62`` (find_contours RetrievalMode::External,
simplify_polygon eps=2, min_area_rect) and
``ocrs/src/recognition.rs:91-126`` (Polygon::fill_iter). Implemented from
the published algorithms (Suzuki-Abe border following via Moore tracing,
Douglas-Peucker, rotating calipers) — no reference code reused.

The component stages work on a whole batch of masks in array passes, so
the Python interpreter runs once per pass, not once per pixel run,
component or contour point:

- labeling: foreground runs of every row of every mask come from one
  diff per mask; each run finds the runs it touches in the row above
  (8-connectivity) by ``searchsorted`` on row-keyed run starts and ends,
  and the roots of the trees those edges join are hooked onto the
  smaller root, with pointer jumping, until each component is one tree;
- tracing: the 8-bit Moore neighbourhood of every pixel is computed once
  per padded mask, and every component of every mask is traced in
  lock-step, one gather through the ``_TRACE_TABLE`` arrays per step.
  Once only a few tracers are open, a long contour would cost one pass
  per step, so those few finish by pointer doubling over the (pixel,
  backtrack) states of their components, holes left out, instead;
- Douglas-Peucker runs level by level over all contours at once.

``min_area_rect`` stays scalar: its hulls have 4-10 points.
"""

from __future__ import annotations

import math

import numpy as np

from ..geometry import Rect, RotatedRect

# Moore neighborhood in clockwise order starting from W (dx, dy).
_MOORE = [(-1, 0), (-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1)]


def _ring_index(dx: int, dy: int) -> int:
    for i, (mx, my) in enumerate(_MOORE):
        if (mx, my) == (dx, dy):
            return i
    raise ValueError((dx, dy))


def _build_trace_table():
    """Transition table for table-driven Moore tracing: for (backtrack
    direction, 8-bit neighborhood mask) precompute the full step — the
    clockwise scan from the backtrack, the move to the first foreground
    neighbor, and the new backtrack direction (toward the last
    background cell examined)."""
    table = [[None] * 256 for _ in range(8)]
    for bdir in range(8):
        for nb in range(256):
            step = None
            for k in range(1, 9):
                d = (bdir + k) & 7
                if nb & (1 << d):
                    dx, dy = _MOORE[d]
                    # Last background examined: ring slot before the hit
                    # (for k == 1 that's the old backtrack itself, which
                    # the scan has not moved past).
                    pbx, pby = _MOORE[(bdir + k - 1) & 7]
                    step = (dx, dy, _ring_index(pbx - dx, pby - dy))
                    break
            table[bdir][nb] = step  # None = isolated pixel
    return table


_TRACE_TABLE = _build_trace_table()

# _TRACE_TABLE as arrays indexed by ``256 * backtrack + neighbourhood``:
# the move, the next index base (256 * new backtrack), and whether the
# pixel is isolated (no move).
_STEPS = [s or (0, 0, 0) for row in _TRACE_TABLE for s in row]
_T_DX = np.array([s[0] for s in _STEPS], dtype=np.int64)
_T_DY = np.array([s[1] for s in _STEPS], dtype=np.int64)
_T_BASE = np.array([256 * s[2] for s in _STEPS], dtype=np.int64)
_T_ISOLATED = np.array([s is None for row in _TRACE_TABLE for s in row])
del _STEPS
_NO_LIMIT = np.iinfo(np.int64).max
_BIT = np.array([1 << i for i in range(8)], dtype=np.uint8)


def _pad_masks(masks: list[np.ndarray]):
    """Lay the masks out in one flat uint8 grid, each with a 1-pixel
    background border, and fill a parallel flat array with each interior
    pixel's Moore neighbourhood: bit i set iff neighbour ``_MOORE[i]`` is
    foreground (border cells of it are never read). Returns (grid, bits,
    bases, strides): mask k occupies ``[bases[k], bases[k + 1])`` with row
    stride ``strides[k]`` (its width + 2)."""
    strides = np.array([m.shape[1] + 2 for m in masks], dtype=np.int64)
    sizes = [(m.shape[0] + 2) * s for m, s in zip(masks, strides.tolist())]
    bases = np.zeros(len(masks) + 1, dtype=np.int64)
    np.cumsum(sizes, out=bases[1:])
    total = int(bases[-1])
    grid = np.empty(total, dtype=np.uint8)
    bits = np.empty(total, dtype=np.uint8)
    tmp = np.empty(max(sizes, default=0), dtype=np.uint8)
    for k, m in enumerate(masks):
        a, b, w = int(bases[k]), int(bases[k + 1]), int(strides[k])
        g = grid[a:b].reshape(-1, w)
        g[0] = g[-1] = 0
        g[:, 0] = g[:, -1] = 0
        g[1:-1, 1:-1] = m
        # Interior pixels lie in [a + w + 1, b - w - 1); neighbour i of
        # flat cell p is p + dy * w + dx. Bits are set by multiplying,
        # which numpy runs several times faster than a uint8 left shift.
        lo, hi = a + w + 1, b - w - 1
        t = tmp[: hi - lo]
        for i, (dx, dy) in enumerate(_MOORE):
            off = dy * w + dx
            nb = grid[lo + off : hi + off]
            if i == 0:
                bits[lo:hi] = nb
            else:
                np.multiply(nb, _BIT[i], out=t)
                bits[lo:hi] |= t
    return grid, bits, bases, strides


def _runs(grid, bases, strides):
    """Foreground runs of every row of every padded mask, as flat
    half-open ``[start, end)`` grid positions in raster order, and the
    mask each run lies in. The zero border keeps every run
    inside one row of one mask."""
    change = np.flatnonzero(grid[1:] != grid[:-1]) + 1
    rising = grid[change] == 1
    start, end = change[rising], change[~rising]
    return start, end, np.searchsorted(bases, start, "right") - 1


def _label_runs(start, end, stride, diagonal=True):
    """Dense connected-component label of every run, 8-connected (or
    4-connected when ``diagonal`` is false), numbered in raster order of
    each component's first run. Returns (labels, first run of each
    label)."""
    n = start.size
    lab = np.arange(n)
    # The runs of the row above that touch [start - 1, end + 1) (or
    # [start, end) when 4-connected) form a contiguous range [lo, hi) of
    # the raster-ordered runs.
    sides = ("left", "right") if diagonal else ("right", "left")
    lo = np.searchsorted(end, start - stride, sides[0])
    hi = np.searchsorted(start, end - stride, sides[1])
    cnt = np.maximum(hi - lo, 0)
    src = np.repeat(lab, cnt)
    dst = np.arange(src.size) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    # Every run points at a smaller-or-equal run; roots point at
    # themselves. Each round hooks the larger root of every edge that
    # joins two trees onto the smaller one, flattens the trees by pointer
    # jumping and drops the edges now inside one tree. Whole trees move
    # each round, so the rounds do not grow with a component's height: a
    # 400-row U, a diagonal cross or a spiral takes two.
    while src.size:
        r_s, r_d = lab[src], lab[dst]
        low = np.minimum(r_s, r_d)
        np.minimum.at(lab, r_s, low)
        np.minimum.at(lab, r_d, low)
        while True:  # pointer jumping to each tree's root
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up
        live = lab[src] != lab[dst]
        src, dst = src[live], dst[live]
    # Each root is its component's smallest run index, i.e. its first run.
    first = np.flatnonzero(lab == np.arange(n))
    return np.searchsorted(first, lab), first


def label_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """8-connected component labeling of a boolean mask.

    Returns (labels, n) where labels is int32 (0 = background,
    components numbered 1..n in raster order of their first pixel).
    """
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    grid, _, bases, strides = _pad_masks([mask])
    start, end, owner = _runs(grid, bases, strides)
    comp, first = _label_runs(start, end, strides[owner])
    padded = np.zeros((h + 2) * (w + 2), dtype=np.int32)
    length = end - start
    pix = np.repeat(start - (np.cumsum(length) - length), length) + np.arange(length.sum())
    padded[pix] = np.repeat(comp + 1, length)
    return padded.reshape(h + 2, w + 2)[1:-1, 1:-1].copy(), first.size


# Lock-step tracing costs about ten numpy calls per step, however few
# tracers are still open; once this few remain, they finish by pointer
# doubling, whose passes grow with the log of the contour length.
_LOCKSTEP_MIN_TRACERS = 8


def _trace(bits, start, stride, bound, runs):
    """Moore-neighbour tracing (clockwise, Jacob's stopping criterion)
    of every component at once, each from its topmost-leftmost pixel
    ``start`` (flat index into ``bits``, row stride ``stride``), entered
    from the West. Tracer i traces component i of ``runs`` (run starts,
    run ends, component of each run, flat start of each run's row). Raises once a tracer has taken
    ``bound`` steps without closing. Returns (tracer id, position) of
    every visited pixel, grouped by tracer in step order."""
    n = start.size
    # One copy of the step tables per distinct row stride: a tracer's
    # table index is 2048 * its stride class + 256 * backtrack + bits.
    widths, cls = np.unique(stride, return_inverse=True)
    move = (_T_DY * widths[:, None] + _T_DX).ravel()
    base_of = (_T_BASE + 2048 * np.arange(widths.size)[:, None]).ravel()
    ids, path = [np.arange(n)], [start]
    # Step 1 leaves every start pixel except isolated ones, and fixes the
    # first move that Jacob's criterion compares against.
    moving = ~_T_ISOLATED[bits[start]]
    tid = np.flatnonzero(moving)
    start, bound = start[moving], bound[moving]
    v = bits[start] + 2048 * cls[moving]
    first = start + move[v]
    ids.append(tid)
    path.append(first)
    pos, base = first, base_of[v]
    steps = 1
    limit = int(bound.min(initial=_NO_LIMIT))
    while tid.size > _LOCKSTEP_MIN_TRACERS:
        if steps >= limit and (bound <= steps).any():
            raise RuntimeError("contour tracing did not terminate")
        v = base + bits[pos]
        nxt = pos + move[v]
        steps += 1
        back = pos == start
        if back.any() and (done := back & (nxt == first)).any():
            go = ~done
            tid, nxt, v, start, first, bound = (a[go] for a in (tid, nxt, v, start, first, bound))
            limit = int(bound.min(initial=_NO_LIMIT))
        ids.append(tid)
        path.append(nxt)
        pos, base = nxt, base_of[v]
    if tid.size:
        back = (base & 2047) >> 8
        tail = _trace_by_doubling(bits, runs, tid, stride[tid], pos, back, start, first, bound, steps)
        ids.append(tail[0])
        path.append(tail[1])
    ids = np.concatenate(ids)
    order = np.argsort(ids, kind="stable")
    return ids[order], np.concatenate(path)[order]


def _holes(start, end, row, comp, stride, size):
    """The holes of each component, as the gaps between its consecutive
    runs in a row that, with the component alone on the page, are not
    4-connected to the outside. The runs come ordered by component,
    raster order within one. Returns (gap starts, gap ends), positions
    keyed ``comp * size + position`` so that each component's gaps sort
    apart."""
    start, end, row = (a + comp * size for a in (start, end, row))
    inner = (comp[1:] == comp[:-1]) & (row[1:] == row[:-1])
    gap_start, gap_end, gap_row = end[:-1][inner], start[1:][inner], row[:-1][inner]
    gap_stride = stride[:-1][inner]
    # The component's span in each row: its first run start, last run end.
    opens, closes = np.r_[True, ~inner], np.r_[~inner, True]
    span_row, span_lo, span_hi = row[opens], start[opens], end[closes]
    # Cells beside a row's span reach the outside along the row. A gap
    # touches them if the row above or below has no run of the component
    # or the gap reaches past that row's span; otherwise it only meets
    # the runs and gaps of that row.
    outside = np.zeros(gap_start.size, dtype=bool)
    for shift in (-gap_stride, gap_stride):
        k = np.minimum(np.searchsorted(span_row, gap_row + shift), span_row.size - 1)
        outside |= (span_row[k] != gap_row + shift) | (gap_start + shift < span_lo[k]) | (gap_end + shift > span_hi[k])
    region, first = _label_runs(gap_start, gap_end, gap_stride, diagonal=False)
    reaches_out = np.zeros(first.size, dtype=bool)
    reaches_out[region[outside]] = True
    hole = ~reaches_out[region]
    return gap_start[hole], gap_end[hole]


def _trace_by_doubling(bits, runs, tid, stride, pos, back, start, first, bound, steps):
    """Finish the open tracers ``tid`` (sorted), each at ``pos`` with
    backtrack direction ``back`` after ``steps`` steps, by pointer
    doubling. A tracer's state is (pixel, backtrack) and the table step
    is a function of it, so the states of a component's border pixels
    form a successor graph and its trace is a walk along that graph up
    to the first state where Jacob's rule stops. Jump tables of 1, 2, 4,
    ... steps find that state and then every state before it, in
    log2(walk length) passes. Returns (tracer id, position) of the new
    steps, grouped by tracer in step order.

    A step moves the backtrack only through background cells that are
    4-adjacent in turn around the pixel, so a trace that starts outside
    the component never sees a state whose backtrack cell lies in one of
    its holes: those states, most of a noisy blob's, are left out."""
    run_start, run_end, run_comp, run_row = runs
    picked = np.flatnonzero(np.isin(run_comp, tid))
    comp = np.searchsorted(tid, run_comp[picked])
    by_comp = np.argsort(comp, kind="stable")
    size = bits.size
    hole_start, hole_end = _holes(
        *(a[picked][by_comp] for a in (run_start, run_end, run_row)), comp[by_comp], stride[comp[by_comp]], size
    )
    rs, length = run_start[picked], (run_end - run_start)[picked]
    pix = np.repeat(rs - (np.cumsum(length) - length), length) + np.arange(length.sum())
    owner = np.repeat(comp, length)
    # States: a component pixel and a background neighbour outside the
    # component's holes as backtrack, keyed 8 * pixel + backtrack.
    nb = bits[pix]
    keys = []
    for d, (dx, dy) in enumerate(_MOORE):
        k = np.flatnonzero((nb & _BIT[d]) == 0)
        if hole_start.size:
            cell = pix[k] + dy * stride[owner[k]] + dx + owner[k] * size
            g = np.maximum(np.searchsorted(hole_start, cell, "right") - 1, 0)
            k = k[(cell < hole_start[g]) | (cell >= hole_end[g])]
        keys.append(8 * pix[k] + d)
    key = np.sort(np.concatenate(keys))
    pix, back_dir = key >> 3, key & 7
    owner = comp[np.searchsorted(rs, pix, "right") - 1]
    v = 256 * back_dir + bits[pix]
    nxt = pix + _T_DY[v] * stride[owner] + _T_DX[v]
    jump = [np.searchsorted(key, 8 * nxt + (_T_BASE[v] >> 8)).astype(np.int32)]
    stop = [(pix == start[owner]) & (nxt == first[owner])]
    del pix, owner, back_dir, v, nxt
    cur = np.searchsorted(key, 8 * pos + back)
    # Level j covers the 2**j states from each state on.
    while not (found := stop[-1][cur]).all():
        if (steps + (1 << (len(jump) - 1)) >= bound[~found]).any():
            raise RuntimeError("contour tracing did not terminate")
        j, s = jump[-1], stop[-1]
        stop.append(s | s[j])
        jump.append(j[j])
    # Steps to the stopping state: descend the levels from the top.
    at, count = cur, np.zeros(tid.size, dtype=np.int64)
    for j in range(len(jump) - 2, -1, -1):
        go = ~stop[j][at]
        at = np.where(go, jump[j][at], at)
        count += go.astype(np.int64) << j
    if (steps + count >= bound).any():
        raise RuntimeError("contour tracing did not terminate")
    # The state i + 1 steps on from each tracer's current one, for i <
    # its count, by the binary digits of i.
    i = np.arange(count.sum()) - np.repeat(np.cumsum(count) - count, count)
    state = np.repeat(jump[0][cur], count)
    for j, table in enumerate(jump):
        take = ((i >> j) & 1).astype(bool)
        state[take] = table[state[take]]
    return np.repeat(tid, count), key[state] >> 3


def find_contours_batch(masks: list[np.ndarray]):
    """Outer contour of each 8-connected component of every mask
    (counterpart of rten-imageproc find_contours with
    RetrievalMode::External, used at detection.rs:46).

    Returns (points, offsets, owner): contour c is the ordered border
    pixels ``points[offsets[c]:offsets[c + 1]]`` as (x, y) int32 rows,
    of mask ``owner[c]``; contours come mask by mask, each mask's in
    raster order of their first pixel."""
    masks = [np.asarray(m, dtype=bool) for m in masks]
    grid, bits, bases, strides = _pad_masks(masks)
    start, end, run_mask = _runs(grid, bases, strides)
    stride = strides[run_mask]
    comp, first = _label_runs(start, end, stride)
    ncomp = first.size
    # Padded bounding box of each component, for the tracer's step bound
    # of 4 x (padded bounding-box area + 8).
    row, col = np.divmod(start - bases[run_mask], stride)
    x0 = np.full(ncomp, _NO_LIMIT)
    np.minimum.at(x0, comp, col)
    x1 = np.zeros(ncomp, dtype=np.int64)
    np.maximum.at(x1, comp, col + (end - start))
    y1 = np.zeros(ncomp, dtype=np.int64)
    np.maximum.at(y1, comp, row)
    bound = 4 * ((y1 - row[first] + 3) * (x1 - x0 + 2) + 8)
    runs = (start, end, comp, start - col)  # with the flat start of each run's row
    tracer, pos = _trace(bits, start[first], stride[first], bound, runs)
    owner = run_mask[first]
    y, x = np.divmod(pos - bases[owner][tracer], stride[first][tracer])
    points = np.stack([x - 1, y - 1], axis=1).astype(np.int32)
    offsets = np.zeros(ncomp + 1, dtype=np.int64)
    np.cumsum(np.bincount(tracer, minlength=ncomp), out=offsets[1:])
    return points, offsets, owner


def find_contours_external(mask: np.ndarray) -> list[np.ndarray]:
    """Outer contour of each 8-connected component of one mask, as
    ordered (N, 2) int32 arrays of (x, y) border pixels."""
    points, offsets, _ = find_contours_batch([mask])
    return [points[a:b] for a, b in zip(offsets[:-1], offsets[1:])]


def simplify_polylines(points, offsets, eps: float):
    """Douglas-Peucker simplification, endpoints kept (counterpart of
    rten-imageproc simplify_polygon at detection.rs:50), of every
    polyline ``points[offsets[c]:offsets[c + 1]]`` at once. Returns
    (kept points as float64, their offsets).

    Level-synchronous: each pass splits every open segment of every
    polyline at its first farthest interior point. The kept set only
    depends on each segment's own endpoints, so it equals the recursive
    form's. Distances follow the recursive form's exact IEEE sequence
    (sub, mul, abs, divide by the segment length; strict > first max),
    and lengths come from ``math.hypot``, which can differ from
    ``np.hypot`` in the last ulp."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    offsets = np.asarray(offsets, dtype=np.int64)
    xs, ys = pts[:, 0].copy(), pts[:, 1].copy()
    lens = np.diff(offsets)
    keep = np.zeros(len(pts), dtype=bool)
    keep[offsets[:-1][lens > 0]] = True
    keep[offsets[1:][lens > 0] - 1] = True
    i0, i1 = offsets[:-1][lens > 2], offsets[1:][lens > 2] - 1
    while i0.size:
        span = i1 - i0 - 1
        seg = np.repeat(np.arange(i0.size), span)
        head = np.cumsum(span) - span
        j = np.arange(seg.size) + np.repeat(i0 + 1 - head, span)
        x0, y0 = xs[i0], ys[i0]
        ex, ey = xs[i1] - x0, ys[i1] - y0
        seg_len = np.array(list(map(math.hypot, ex.tolist(), ey.tolist())))
        dx, dy = xs[j] - x0[seg], ys[j] - y0[seg]
        with np.errstate(divide="ignore", invalid="ignore"):
            d = np.abs(ex[seg] * dy - ey[seg] * dx) / seg_len[seg]
        closed = (seg_len == 0)[seg]
        if closed.any():
            # A closed segment measures plain distance to its endpoint,
            # math.hypot(dx, dy). math.hypot is within 1 ulp (Python >=
            # 3.10), so only points whose squared distance is within
            # 1e-9 of the segment's largest can hold the first maximum:
            # those get math.hypot, the rest -1.
            q = dx * dx + dy * dy
            near = closed & (q >= np.maximum.reduceat(q, head)[seg] * (1 - 1e-9))
            d[closed] = -1.0
            d[near] = list(map(math.hypot, dx[near].tolist(), dy[near].tolist()))
        best = np.maximum.reduceat(d, head)
        hit = np.flatnonzero(d == best[seg])
        hit = hit[np.r_[True, seg[hit[1:]] != seg[hit[:-1]]]]  # first max
        split = best > eps
        bi = j[hit][split]
        keep[bi] = True
        a = np.concatenate([i0[split], bi])
        b = np.concatenate([bi, i1[split]])
        i0, i1 = a[b > a + 1], b[b > a + 1]
    return pts[keep], np.concatenate([[0], np.cumsum(keep)])[offsets]


def simplify_polyline(points, eps: float) -> np.ndarray:
    """Douglas-Peucker over one polyline (see ``simplify_polylines``).
    Accepts a point list or an (N, 2) array; returns an (M, 2) float64
    array."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    return simplify_polylines(pts, [0, len(pts)], eps)[0]


def convex_hull(points) -> np.ndarray:
    """Andrew monotone chain. Returns hull points (x, y) CCW in image
    coords (y down), shape (m, 2) float64. Pure-Python over scalar
    floats (inputs are simplified contours of a handful of points where
    numpy per-call overhead dominates); dedup + lexicographic sort
    matches np.unique's row ordering."""
    pts = np.asarray(points, dtype=np.float64)
    uniq = sorted(set(map(tuple, pts.tolist())))
    if len(uniq) <= 2:
        return np.asarray(uniq, dtype=np.float64).reshape(-1, 2)

    def half(seq):
        out = []
        for px, py in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((px, py))
        return out

    lower = half(uniq)
    upper = half(uniq[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def min_area_rect(points) -> RotatedRect | None:
    """Minimum-area oriented bounding rect via rotating calipers over hull
    edges (counterpart of rten-imageproc min_area_rect at
    detection.rs:52). Up axis is oriented towards (0, -1) so horizontal
    input yields width = x-extent, height = y-extent."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) == 0:
        return None
    hull = convex_hull(pts)
    if len(hull) == 1:
        return RotatedRect(hull[0][0], hull[0][1], 0.0, -1.0, 0.0, 0.0)
    if len(hull) == 2:
        (x0, y0), (x1, y1) = hull
        dx, dy = x1 - x0, y1 - y0
        length = math.hypot(dx, dy)
        ux, uy = (-dy / length, dx / length) if length else (0.0, -1.0)
        rr = RotatedRect((x0 + x1) / 2, (y0 + y1) / 2, ux, uy, length, 0.0)
        return rr.orient_towards(0.0, -1.0)

    # Rotating calipers over the (tiny) hull in pure Python: project
    # every hull point on every edge direction and take the first
    # minimal-area edge. Same elementwise IEEE mul+add as the
    # vectorized form this replaces (no FMA/matmul), so results are
    # bit-identical; at hull sizes of 4-10 points the scalar loop beats
    # the ~15 numpy calls it replaces.
    hx = hull[:, 0].tolist()
    hy = hull[:, 1].tolist()
    m = len(hx)
    best_area = None
    best = None
    for a in range(m):
        b = (a + 1) % m
        evx, evy = hx[b] - hx[a], hy[b] - hy[a]
        # np.hypot, not math.hypot: they can differ in the last ulp and
        # the unit-vector rounding must match the prior vectorized form.
        elen = float(np.hypot(evx, evy))
        if elen == 0:
            continue
        uex, uey = evx / elen, evy / elen
        upx, upy = -uey, uex
        emin = emax = hx[0] * uex + hy[0] * uey
        pmin = pmax = hx[0] * upx + hy[0] * upy
        for j in range(1, m):
            pe = hx[j] * uex + hy[j] * uey
            pp = hx[j] * upx + hy[j] * upy
            if pe < emin:
                emin = pe
            elif pe > emax:
                emax = pe
            if pp < pmin:
                pmin = pp
            elif pp > pmax:
                pmax = pp
        area = (emax - emin) * (pmax - pmin)
        if best_area is None or area < best_area:
            best_area = area
            best = (uex, uey, upx, upy, emin, emax, pmin, pmax)
    ex, ey, px, py, emin_, emax_, pmin_, pmax_ = best
    ws_i = emax_ - emin_
    hs_i = pmax_ - pmin_
    ce = (emax_ + emin_) / 2
    cp = (pmax_ + pmin_) / 2
    # Width along the edge direction; height along perpendicular.
    # Up axis = the axis along "height", pointing up-ish.
    rr = RotatedRect(ce * ex + cp * px, ce * ey + cp * py, px, py, ws_i, hs_i)
    # Normalize: make the up axis the one closest to vertical, and point
    # it towards (0, -1) (mirrors orient_towards usage,
    # text_items.rs:26-29).
    if abs(rr.uy) < abs(rr.ux):
        # Swap axes: up becomes the perpendicular of current up.
        rr = RotatedRect(rr.cx, rr.cy, rr.uy, -rr.ux, rr.height, rr.width)
    return rr.orient_towards(0.0, -1.0)


def fill_polygon_mask(points: list[tuple[int, int]], bounds: Rect) -> np.ndarray:
    """Rasterize a polygon into a boolean mask over ``bounds`` (integral
    rect), using even-odd scanline with half-open [min, max) edge and
    span conventions (counterpart of Polygon::fill_iter used at
    recognition.rs:110-117)."""
    top, left = int(bounds.top), int(bounds.left)
    h, w = int(bounds.height), int(bounds.width)
    mask = np.zeros((h, w), dtype=bool)
    if not points or h <= 0 or w <= 0:
        return mask
    n = len(points)
    edges = []
    for i in range(n):
        x0, y0 = points[i]
        x1, y1 = points[(i + 1) % n]
        if y0 == y1:
            continue
        edges.append((float(x0), float(y0), float(x1), float(y1)))
    if not edges:
        return mask
    # All row-edge intersections in one vectorized pass; the per-row
    # span writing below sees the same sorted xs the scalar loop built.
    e = np.asarray(edges, dtype=np.float64)  # (k, 4): x0 y0 x1 y1
    yy = (top + np.arange(h, dtype=np.float64))[:, None]  # (h, 1)
    ylo = np.minimum(e[:, 1], e[:, 3])[None, :]
    yhi = np.maximum(e[:, 1], e[:, 3])[None, :]
    active = (ylo <= yy) & (yy < yhi)  # half-open edge span
    t = (yy - e[:, 1][None, :]) / (e[:, 3] - e[:, 1])[None, :]
    xs_all = e[:, 0][None, :] + t * (e[:, 2] - e[:, 0])[None, :]
    xs_all = np.where(active, xs_all, np.inf)
    xs_sorted = np.sort(xs_all, axis=1)
    counts = active.sum(axis=1)
    for row in range(h):
        c = int(counts[row])
        xs = xs_sorted[row]
        for j in range(0, c - 1, 2):
            a = int(math.ceil(xs[j]))
            b = int(math.ceil(xs[j + 1]))  # half-open [a, b)
            a = max(a, left)
            b = min(b, left + w)
            if b > a:
                mask[row, a - left : b - left] = True
    return mask
