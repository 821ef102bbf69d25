"""Shared test fixtures mirroring the reference's test_util.rs generators."""

from __future__ import annotations

import numpy as np

from ocrs_spark.geometry import Rect


def gen_rect_grid(top_left, grid_shape, rect_size, gap_size):
    """Uniform grid of rects (counterpart of ocrs/src/test_util.rs:7-28)."""
    (ty, tx), (rows, cols), (rh, rw), (gh, gw) = top_left, grid_shape, rect_size, gap_size
    return [
        Rect(ty + r * (rh + gh), tx + c * (rw + gw), ty + r * (rh + gh) + rh, tx + c * (rw + gw) + rw)
        for r in range(rows)
        for c in range(cols)
    ]


def union_rects(rects):
    u = rects[0]
    for r in rects[1:]:
        u = u.union(r)
    return u


def gen_test_image(n_words: int, shape=(3, 100, 200)) -> np.ndarray:
    """CHW float image, black with one line of white word rects at
    Rect::from_tlhw(30, i*70, 20, 50) (counterpart of ocrs/src/lib.rs:319-333)."""
    img = np.zeros(shape, dtype=np.float32)
    for i in range(n_words):
        img[:, 30:50, i * 70 : i * 70 + 50] = 1.0
    return img


def colour_gif(grey: np.ndarray) -> bytes:
    """``encode_gif`` output with its 256-entry global colour table
    (offset 13) patched to a non-grey palette, so it decodes to RGB."""
    from ocrs_spark.gif import encode_gif

    buf = bytearray(encode_gif(grey))
    for i in range(256):
        buf[13 + 3 * i : 13 + 3 * i + 3] = bytes([i, 255 - i, (i * 3) & 0xFF])
    return bytes(buf)
