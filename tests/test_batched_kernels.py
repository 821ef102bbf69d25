"""The batched connected-component and layout kernels against the
scalar oracle (``tests/kernel_oracle.py``): labeling, tracing,
Douglas-Peucker, the word rects of every image of a mixed batch, and
line chaining must match exactly."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocrs_spark import FakeDetectionModel
from ocrs_spark.geometry import Line, RotatedRect
from ocrs_spark.kernels import contours
from ocrs_spark.kernels.detection import TextDetector
from ocrs_spark.kernels.layout import group_into_lines

from . import kernel_oracle as oracle

SHAPES = [(1, 1), (96, 192), (400, 800), (7, 5), (31, 64)]
KINDS = ["empty", "full", "diagonals", "nested", "borders", "words", "noise", "u", "cross"]


def make_mask(kind: str, shape, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    h, w = shape
    m = np.zeros(shape, dtype=bool)
    if kind == "full":
        m[:] = True
    elif kind == "diagonals":  # 1-px lines, joined only through corners
        for off in rng.integers(-h, w, size=4):
            idx = np.arange(max(h, w))
            y, x = idx, idx + off
            ok = (x >= 0) & (x < w) & (y < h)
            m[y[ok], x[ok]] = True
            m[y[ok], w - 1 - x[ok]] = True
    elif kind == "nested":  # rings with holes, each holding the next
        t, l, b, r = 0, 0, h, w
        while b - t > 0 and r - l > 0:
            m[t:b, l:r] = True
            t, l, b, r = t + 1, l + 1, b - 1, r - 1
            if b - t > 0 and r - l > 0:
                m[t:b, l:r] = False
            gap = int(rng.integers(1, 4))
            t, l, b, r = t + gap, l + gap, b - gap, r - gap
    elif kind == "borders":  # components touching all four borders
        m[0, :] = m[-1, :] = True
        m[:, 0] = m[:, -1] = True
        for _ in range(6):
            y, x = int(rng.integers(0, h)), int(rng.integers(0, w))
            m[y : y + int(rng.integers(1, 9)), x : x + int(rng.integers(1, 9))] = True
        if h > 4 and w > 4:
            m[2:-2, 2:-2] &= rng.random((h - 4, w - 4)) < 0.02
    elif kind == "u":  # two full-height arms joined only at the bottom
        a, b = sorted(rng.integers(0, w, size=2).tolist())
        m[:, a] = m[:, b] = True
        m[-1, a : b + 1] = True
    elif kind == "cross":  # two 1-px diagonals crossing
        idx = np.arange(min(h, w))
        m[idx, idx] = m[idx, min(h, w) - 1 - idx] = True
    elif kind == "words":
        for _ in range(int(rng.integers(0, 40))):
            y, x = int(rng.integers(0, h)), int(rng.integers(0, w))
            m[y : y + int(rng.integers(1, 22)), x : x + int(rng.integers(1, 60))] = True
    elif kind == "noise":
        # Dense noise on small masks only: the oracle is slow on a
        # 400x800 speckle field.
        m[:] = rng.random(shape) < (rng.choice([0.1, 0.4, 0.6]) if h * w < 5000 else 0.005)
    return m


batches = st.lists(
    st.tuples(st.sampled_from(KINDS), st.sampled_from(SHAPES), st.integers(0, 2**32 - 1)),
    min_size=1,
    max_size=5,
)


def _key(rect):
    return (rect.cx, rect.cy, rect.ux, rect.uy, rect.width, rect.height)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(batches)
def test_words_from_masks_match_oracle(batch):
    masks = [make_mask(kind, shape, seed) for kind, shape, seed in batch]
    detector = TextDetector(FakeDetectionModel())
    got = detector.words_from_masks([m.astype(np.float32) for m in masks])
    assert len(got) == len(masks)
    for mask, rects in zip(masks, got):
        assert [_key(r) for r in rects] == [_key(r) for r in oracle.words_from_mask(mask)]


@settings(max_examples=40, deadline=None)
@given(batches)
def test_contours_labels_and_simplification_match_oracle(batch):
    masks = [make_mask(kind, shape, seed) for kind, shape, seed in batch if shape[0] * shape[1] < 5000]
    points, offsets, owner = contours.find_contours_batch(masks)
    expected = [c for m in masks for c in oracle.find_contours_external(m)]
    assert len(expected) == len(owner)
    assert owner.tolist() == [k for k, m in enumerate(masks) for _ in oracle.find_contours_external(m)]
    for c, ref in enumerate(expected):
        assert np.array_equal(points[offsets[c] : offsets[c + 1]], ref)
    for eps in (0.5, 2.0):
        kept, kept_offsets = contours.simplify_polylines(points, offsets, eps)
        for c, ref in enumerate(expected):
            assert np.array_equal(kept[kept_offsets[c] : kept_offsets[c + 1]], oracle.simplify_polyline(ref, eps))
    for m in masks:
        single = contours.find_contours_external(m)
        want = oracle.find_contours_external(m)
        assert len(single) == len(want) and all(map(np.array_equal, single, want))
        labels, n = contours.label_components(m)
        runs_by_label, _, _ = oracle._component_runs(m)
        assert n == len(runs_by_label)
        want = np.zeros(m.shape, dtype=np.int32)
        for lbl, runs in enumerate(runs_by_label, start=1):
            for y, s, e in runs:
                want[y, s:e] = lbl
        assert np.array_equal(labels, want)


def test_simplify_polyline_float_input_matches_oracle():
    rng = np.random.default_rng(7)
    for n in (0, 1, 2, 3, 17, 200):
        pts = rng.normal(size=(n, 2)) * 30
        for eps in (0.1, 2.0, 50.0):
            got = contours.simplify_polyline(pts, eps)
            assert np.array_equal(got, oracle.simplify_polyline(pts, eps).reshape(-1, 2))


def _trace_tiles(tile, copies, bound):
    """Trace ``copies`` of ``tile`` laid out in one mask, the last copy
    with step bound ``bound`` and the others unbounded."""
    h, w = tile.shape
    mask = np.zeros((h + 1, (w + 1) * copies), dtype=bool)
    for k in range(copies):
        mask[:h, k * (w + 1) : k * (w + 1) + w] = tile
    grid, bits, bases, strides = contours._pad_masks([mask])
    start, end, owner = contours._runs(grid, bases, strides)
    comp, first = contours._label_runs(start, end, strides[owner])
    limits = np.full(first.size, 10**6)
    limits[-1] = bound
    row_start = start - (start - bases[owner]) % strides[owner]
    return contours._trace(bits, start[first], strides[owner][first], limits, (start, end, comp, row_start))


# copies: 1 traces by pointer doubling alone, 40 in lock-step first.
@pytest.mark.parametrize("copies", [1, 40])
def test_trace_step_bound_is_exact(copies):
    """A tracer raises iff it takes ``bound`` steps without closing: the
    3x3 block's outer contour closes after 8 steps."""
    block = np.ones((3, 3), dtype=bool)
    for bound in (3, 8):
        with pytest.raises(RuntimeError, match="did not terminate"):
            _trace_tiles(block, copies, bound)
    tracer, _ = _trace_tiles(block, copies, 9)
    assert np.bincount(tracer).tolist() == [9] * copies


@pytest.mark.parametrize("copies", [1, 40])
def test_start_pixel_on_the_contour_twice(copies):
    """The start pixel joins two arms that do not touch, so the trace
    passes it mid-contour; Jacob's rule stops only where the first move
    would repeat."""
    tile = np.zeros((4, 6), dtype=bool)
    tile[0, 2:6] = True  # arm to the East of the start pixel (2, 0)
    tile[1, 1] = tile[2, 0] = tile[3, 0] = True  # arm to the South-West
    mask = np.concatenate([np.pad(tile, ((0, 1), (0, 1)))] * copies, axis=1)
    points, offsets, _ = contours.find_contours_batch([mask])
    expected = oracle.find_contours_external(mask)
    assert len(expected) == copies
    for c, ref in enumerate(expected):
        assert (ref == ref[0]).all(axis=1).sum() > 2  # start pixel seen mid-contour
        assert np.array_equal(points[offsets[c] : offsets[c + 1]], ref)


def test_long_contours_finish_by_doubling():
    """Few long tracers (a tall U, a diagonal cross) next to many short
    ones: the lock-step and doubling phases together equal the oracle."""
    masks = [make_mask("u", (400, 800), 1), make_mask("cross", (400, 800), 2)]
    masks += [make_mask("words", (96, 192), s) for s in range(3)]
    points, offsets, owner = contours.find_contours_batch(masks)
    expected = [c for m in masks for c in oracle.find_contours_external(m)]
    assert len(expected) == len(owner) > contours._LOCKSTEP_MIN_TRACERS
    for c, ref in enumerate(expected):
        assert np.array_equal(points[offsets[c] : offsets[c + 1]], ref)


@pytest.mark.parametrize("density", [0.55, 0.7])
def test_blobs_with_holes_finish_by_doubling(density):
    """Dense noise inside three frames side by side: components riddled
    with holes (and components inside the holes) that share rows, traced
    by pointer doubling over the states outside the holes only."""
    rng = np.random.default_rng(int(density * 100))
    mask = np.zeros((60, 270), dtype=bool)
    for left in (5, 95, 185):
        mask[5:55, left : left + 80] = rng.random((50, 80)) < density
        mask[5:55, left] = mask[5:55, left + 79] = mask[5, left : left + 80] = mask[54, left : left + 80] = True
    points, offsets, _ = contours.find_contours_batch([mask])
    expected = oracle.find_contours_external(mask)
    assert len(expected) == offsets.size - 1
    for c, ref in enumerate(expected):
        assert np.array_equal(points[offsets[c] : offsets[c + 1]], ref)


words = st.lists(
    st.tuples(
        st.integers(0, 30),  # column
        st.integers(0, 6),  # row
        st.sampled_from([0.0, 0.2, 0.5, 0.7, 0.9]),  # fraction of cx: int(cx) ties
        st.integers(2, 14),  # width
        st.sampled_from([(0.0, -1.0), (0.0, 1.0), (0.6, -0.8), (-0.28, -0.96)]),  # up axis
    ),
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(words, st.lists(st.integers(0, 130), max_size=3))
def test_group_into_lines_matches_oracle(spec, sep_xs):
    rects = [
        RotatedRect(4.0 * col + frac, 12.0 * row + col % 3, ux, uy, float(w), 8.0)
        for col, row, frac, w, (ux, uy) in spec
    ]
    seps = [Line(x + 0.5, -5.0, x + 0.5, 100.0) for x in sep_xs]
    assert group_into_lines(rects, seps) == oracle.group_into_lines(rects, seps)


def test_group_into_lines_ties_on_int_cx_take_pool_order():
    """Two candidates with the same int(cx): the earlier in the pool
    (smaller int(left)) wins, though the other's cx is smaller."""
    a = RotatedRect(5.0, 10.0, 0.0, -1.0, 6.0, 10.0)
    b = RotatedRect(20.7, 10.0, 0.0, -1.0, 10.0, 10.0)  # left 15.7
    c = RotatedRect(20.2, 10.0, 0.0, -1.0, 4.0, 10.0)  # left 18.2
    assert group_into_lines([c, b, a], []) == [[a, b], [c]]


def _outside_of(component: np.ndarray) -> np.ndarray:
    """Background 4-connected to the border of a padded single-component
    mask, by breadth-first search."""
    h, w = component.shape
    seen = np.zeros_like(component)
    todo = [(0, 0)]
    seen[0, 0] = True
    while todo:
        y, x = todo.pop()
        for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
            if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and not component[ny, nx]:
                seen[ny, nx] = True
                todo.append((ny, nx))
    return seen


def test_holes_are_exactly_the_enclosed_background():
    """``_holes`` returns, for every component at once, exactly the
    background cells that the component alone encloses."""
    rng = np.random.default_rng(3)
    mask = rng.random((30, 130)) < 0.6  # blobs with holes and channels out
    mask[2:28, 90:125] = False
    mask[4:26, 92:123] = rng.random((22, 31)) < 0.6  # and one inside a frame
    mask[4:26, 92] = mask[4:26, 122] = mask[4, 92:123] = mask[25, 92:123] = True
    grid, _, bases, strides = contours._pad_masks([mask])
    start, end, owner = contours._runs(grid, bases, strides)
    comp, first = contours._label_runs(start, end, strides[owner])
    by_comp = np.argsort(comp, kind="stable")
    stride = int(strides[0])
    row = start - (start - bases[0]) % stride
    size = grid.size
    hole_start, hole_end = contours._holes(
        start[by_comp], end[by_comp], row[by_comp], comp[by_comp], strides[owner][by_comp], size
    )
    labels = np.pad(contours.label_components(mask)[0], 1)
    assert first.size > 3
    for c in range(first.size):
        component = labels == c + 1
        want = np.flatnonzero(~component & ~_outside_of(component))
        got = [np.arange(a, b) - c * size for a, b in zip(hole_start, hole_end) if a // size == c]
        assert np.array_equal(np.concatenate([[], *got]).astype(np.int64), want)
