"""Layout analysis: word -> line grouping, block separators, reading order.

Behavioral counterpart of ``ocrs/src/layout_analysis.rs`` (+
``layout_analysis/empty_rects.rs``), constants preserved verbatim:
- greedy left-to-right line chaining with vertical-overlap >= 5 and
  horizontal-overlap <= 5 thresholds (layout_analysis.rs:19-71);
- median word spacing / height via index len/2 of the sorted (resp.
  unsorted) list — reproduced literally (layout_analysis.rs:92-119);
- Breuel (2002) max-empty-rects branch-and-bound over a max-heap
  (empty_rects.rs:86-137);
- Shafait et al. separator scoring sqrt(area * aspect_weight) with
  0.5/1.5/|log2 ar| buckets, min dims 3x median spacing/height, IoU 0.5
  dedup, top 80 (layout_analysis.rs:127-154);
- line sort by midpoint-line center y; greedy paragraph grouping by
  horizontal overlap, flattened (layout_analysis.rs:186-232).

The per-word geometry (bounding boxes, facing edges, ``int(cx)``) is
computed once per image in ``_Words`` and shared by the separator search
and both line groupings. Line chaining tests every word pair at once as
one numpy boolean table; the greedy walk then only visits each word's
candidates in the order the reference picks them, running the separator
test in that order. When the page has no separator, the separator-free
grouping that the separator search already made is the final grouping.
The empty-rect search works on plain ``(top, left, bottom, right)``
tuples with obstacle index lists.
"""

from __future__ import annotations

import heapq
import itertools
import math

import numpy as np

from ..geometry import Line, Rect, RotatedRect, leftmost_edge, rightmost_edge

OVERLAP_THRESHOLD = 5.0
MAX_H_OVERLAP = 5.0
SEPARATOR_IOU = 0.5
MAX_SEPARATORS = 80


class _Words:
    """Geometry of one image's words, computed once: bounding boxes, and
    each word's chaining candidates in the order the greedy walk tries
    them."""

    def __init__(self, rects: list[RotatedRect]):
        self.rects = rects
        n = len(rects)
        self.boxes = [r.bounding_rect() for r in rects]
        left = [int(b.left) for b in self.boxes]
        # Line pool order: by int(left), stable.
        self.pool = sorted(range(n), key=left.__getitem__)
        rank = [0] * n
        for i, w in enumerate(self.pool):
            rank[w] = i
        ledges = [leftmost_edge(r) for r in rects]
        redges = [rightmost_edge(r) for r in rects]
        cx = np.array([r.cx for r in rects], dtype=np.float64)
        lex = np.array([e.center()[0] for e in ledges], dtype=np.float64)
        rex = np.array([e.center()[0] for e in redges], dtype=np.float64)
        ly0 = np.array([min(e.y0, e.y1) for e in ledges], dtype=np.float64)
        ly1 = np.array([max(e.y0, e.y1) for e in ledges], dtype=np.float64)
        ry0 = np.array([min(e.y0, e.y1) for e in redges], dtype=np.float64)
        ry1 = np.array([max(e.y0, e.y1) for e in redges], dtype=np.float64)
        # follows[a, b]: b may follow a in a line (layout_analysis.rs:47-58):
        # center beyond a's, bounded horizontal overlap, vertical overlap
        # of the facing edges.
        follows = (
            (cx[None, :] > cx[:, None])
            & (lex[None, :] - rex[:, None] >= -MAX_H_OVERLAP)
            & (
                np.minimum(ry1[:, None], ly1[None, :]) - np.maximum(ry0[:, None], ly0[None, :])
                >= OVERLAP_THRESHOLD
            )
        )
        # The walk takes the candidate with the smallest int(cx), ties to
        # the earliest in the pool.
        order = sorted(range(n), key=lambda w: (int(rects[w].cx), rank[w]))
        rows, cols = np.nonzero(follows[:, order])
        order_arr = np.array(order, dtype=np.int64)
        splits = np.searchsorted(rows, np.arange(1, n))
        self.candidates = [c.tolist() for c in np.split(order_arr[cols], splits)] if n else []

    def group(self, separators: list[Line]) -> list[list[int]]:
        """Greedy left-to-right chaining into lines of word indices, no
        link crossing a separator (layout_analysis.rs:19-71)."""
        rects = self.rects
        taken = [False] * len(rects)
        lines = []
        for head in self.pool:
            if taken[head]:
                continue
            taken[head] = True
            line = [head]
            last = head
            while True:
                for w in self.candidates[last]:
                    if not taken[w] and not any(
                        _rects_separated_by_line(rects[last], rects[w], s) for s in separators
                    ):
                        break
                else:
                    break
                taken[w] = True
                line.append(w)
                last = w
            lines.append(line)
        return lines

    def separators(self, lines: list[list[int]]) -> list[Rect]:
        """Block separators (layout_analysis.rs:92-154), given the
        separator-free line grouping."""
        if not self.rects:
            return []
        boxes = self.boxes
        page_rect = Rect(
            min(b.top for b in boxes),
            min(b.left for b in boxes),
            max(b.bottom for b in boxes),
            max(b.right for b in boxes),
        ).integral()
        all_spacings = sorted(
            int(round(max(boxes[nxt].left - boxes[cur].right, 0.0)))
            for line in lines
            for cur, nxt in zip(line, line[1:])
        )
        median_word_spacing = all_spacings[len(all_spacings) // 2] if all_spacings else 10
        # NB: the reference takes words[len/2] of the *unsorted* word list
        # for the height median (layout_analysis.rs:116-119) — reproduced
        # as-is.
        median_height = int(round(self.rects[len(self.rects) // 2].height))
        obstacles = [b.integral() for b in boxes]
        obstacles.sort(key=lambda o: o.center())
        empty = _empty_rects(
            [(o.top, o.left, o.bottom, o.right) for o in obstacles],
            (page_rect.top, page_rect.left, page_rect.bottom, page_rect.right),
            _score_separator,
            median_word_spacing * 3,
            3 * max(median_height, 0),
        )
        found = filter_overlapping((Rect(*r) for r in empty), SEPARATOR_IOU)
        return list(itertools.islice(found, MAX_SEPARATORS))


def _rects_separated_by_line(a: RotatedRect, b: RotatedRect, sep: Line) -> bool:
    return Line(a.cx, a.cy, b.cx, b.cy).intersects(sep)


def group_into_lines(rects: list[RotatedRect], separators: list[Line]) -> list[list[RotatedRect]]:
    return [[rects[w] for w in line] for line in _Words(rects).group(separators)]


def _score_separator(top, left, bottom, right) -> float:
    """sqrt(area * aspect_weight), Shafait et al. §3.D
    (layout_analysis.rs:127-135)."""
    height = bottom - top
    width = right - left
    aspect_ratio = height / width if width else float("inf")
    la = abs(math.log2(aspect_ratio)) if aspect_ratio > 0 else float("inf")
    if la < 3.0:
        weight = 0.5
    elif la < 5.0:
        weight = 1.5
    else:
        weight = la
    return math.sqrt(max(width, 0) * max(height, 0) * weight)


def _empty_rects(obstacles, boundary, score, min_width, min_height):
    """Breuel's branch-and-bound over ``(top, left, bottom, right)``
    tuples: ``obstacles`` in center order, ``score(top, left, bottom,
    right)``. Yields empty rect tuples in decreasing score order."""
    tops, lefts, bottoms, rights = (list(c) for c in zip(*obstacles)) if obstacles else ([], [], [], [])
    counter = itertools.count()  # FIFO tiebreak for equal scores
    heap = []
    t, l, b, r = boundary
    if r - l > 0 and b - t > 0:
        heapq.heappush(heap, (-score(t, l, b, r), next(counter), boundary, list(range(len(tops)))))
    while heap:
        _, _, rect, obs = heapq.heappop(heap)
        if not obs:
            yield rect
            continue
        t, l, b, r = rect
        p = obs[len(obs) // 2]
        for st, sl, sb, sr in (
            (t, l, tops[p], r),  # top
            (t, l, b, lefts[p]),  # left
            (bottoms[p], l, b, r),  # bottom
            (t, rights[p], b, r),  # right
        ):
            w, h = sr - sl, sb - st
            if w <= 0 or h <= 0 or w < min_width or h < min_height:
                continue
            sub = [o for o in obs if lefts[o] < sr and rights[o] > sl and tops[o] < sb and bottoms[o] > st]
            heapq.heappush(heap, (-score(st, sl, sb, sr), next(counter), (st, sl, sb, sr), sub))


def max_empty_rects(obstacles, boundary: Rect, score, min_width: int, min_height: int):
    """Yield empty rects within ``boundary`` in decreasing score order
    (Breuel 2002; empty_rects.rs:51-137). ``score(S) <= score(R)`` must
    hold for S contained in R."""
    obstacles = sorted(obstacles, key=lambda o: o.center())
    empty = _empty_rects(
        [(o.top, o.left, o.bottom, o.right) for o in obstacles],
        (boundary.top, boundary.left, boundary.bottom, boundary.right),
        lambda *tlbr: score(Rect(*tlbr)),
        min_width,
        min_height,
    )
    for r in empty:
        yield Rect(*r)


def filter_overlapping(rect_iter, factor: float):
    """Drop rects whose IoU with an already-yielded rect >= factor
    (empty_rects.rs:170-229)."""
    found: list[Rect] = []
    for r in rect_iter:
        if any(f.iou(r) >= factor for f in found):
            continue
        found.append(r)
        yield r


def find_block_separators(words: list[RotatedRect]) -> list[Rect]:
    geom = _Words(words)
    return geom.separators(geom.group([]))


def find_text_lines(words: list[RotatedRect]) -> list[list[RotatedRect]]:
    """Group words into lines, sorted into reading order
    (layout_analysis.rs:158-233). The output ordering defines the final
    text order and therefore the span-equality contract."""
    geom = _Words(words)
    lines = geom.group([])
    separators = geom.separators(lines)
    if separators:
        lines = geom.group(
            [Line(r.center()[0], r.top, r.center()[0], r.bottom) for r in separators]
        )
    horizontal_seps = [
        Line(r.left, r.center()[1], r.right, r.center()[1]) for r in separators
    ]

    # Center of first word's left edge -> center of last word's right
    # edge (layout_analysis.rs:186-192).
    boxes = geom.boxes
    mids = [
        Line(
            boxes[line[0]].left,
            (boxes[line[0]].top + boxes[line[0]].bottom) / 2.0,
            boxes[line[-1]].right,
            (boxes[line[-1]].top + boxes[line[-1]].bottom) / 2.0,
        )
        for line in lines
    ]
    order = sorted(range(len(lines)), key=lambda i: int(mids[i].center()[1]))

    def separated(a: Line, b: Line) -> bool:
        ab = Line(a.center()[0], a.center()[1], b.center()[0], b.center()[1])
        return any(sep.intersects(ab) for sep in horizontal_seps)

    reading = []  # paragraphs, flattened
    while order:
        seed = order.pop(0)
        reading.append(seed)
        prev = mids[seed]
        i = 0
        while i < len(order):
            cand = mids[order[i]]
            if prev.horizontal_overlap(cand) > 0 and not separated(prev, cand):
                reading.append(order.pop(i))
                prev = cand
            else:
                i += 1
    return [[words[w] for w in lines[i]] for i in reading]
