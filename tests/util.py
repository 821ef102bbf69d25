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


def _word_rows(img, rng, top, left, right, bottom, word_h=(12, 20), word_w=(24, 56)):
    """White word boxes in rows inside ``[top, bottom) x [left, right)``
    with jittered sizes and gaps (the dense-page layout)."""
    while top + word_h[1] < bottom:
        bh = int(rng.integers(*word_h))
        x = left + int(rng.integers(0, 8))
        while True:
            bw = int(rng.integers(*word_w))
            if x + bw >= right:
                break
            img[top : top + bh, x : x + bw] = 255
            x += bw + int(rng.integers(12, 22))
        top += word_h[1] + int(rng.integers(14, 22))


def layout_golden_pages() -> list[tuple[str, np.ndarray]]:
    """Six seeded greyscale pages behind ``fixtures/ocr_layout_golden.json``:
    two dense 400x800 pages, two 96x192 thumbnails, a two-column page
    whose gutter yields vertical block separators, and a page of words
    under salt noise (isolated pixels and specks touching words)."""
    rng = np.random.default_rng(20261017)
    pages = []
    for i in range(2):
        img = np.zeros((400, 800), np.uint8)
        _word_rows(img, rng, 8 + 3 * i, 6, 794, 396)
        pages.append((f"dense-{i}", img))
    for i in range(2):
        img = np.zeros((96, 192), np.uint8)
        _word_rows(img, rng, 6 + i, 4, 188, 92, word_h=(8, 14), word_w=(14, 40))
        pages.append((f"thumb-{i}", img))
    img = np.zeros((400, 800), np.uint8)
    _word_rows(img, rng, 10, 8, 360, 392)
    _word_rows(img, rng, 14, 440, 792, 392)
    pages.append(("two-column", img))
    img = np.zeros((400, 800), np.uint8)
    _word_rows(img, rng, 12, 6, 794, 396)
    img[rng.random(img.shape) < 0.01] = 255
    pages.append(("noisy", img))
    return pages


def layout_golden_record(img: np.ndarray) -> dict:
    """Word boxes ``(cx, cy, ux, uy, width, height)``, reading-order lines
    as indices into the word list, and fake-model text of one greyscale
    page, with the fake detection model sized to the page."""
    from ocrs_spark import FakeDetectionModel, FakeRecognitionModel, OcrEngine, OcrEngineParams
    from ocrs_spark.models import fake_alphabet

    h, w = img.shape
    eng = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(height=h, width=w),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    grey = eng.prepare_input(img[:, :, None])
    words = eng.detect_words(grey)
    lines = eng.find_text_lines(words)
    index = {id(wd): i for i, wd in enumerate(words)}
    return {
        "words": [[wd.cx, wd.cy, wd.ux, wd.uy, wd.width, wd.height] for wd in words],
        "lines": [[index[id(wd)] for wd in line] for line in lines],
        "text": eng.get_text(grey),
    }
