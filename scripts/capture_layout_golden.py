"""Write ``tests/fixtures/ocr_layout_golden.json``: for each page of
``tests.util.layout_golden_pages``, the detected word boxes, the
reading-order lines and the fake-model text (``tests.util.layout_golden_record``).

    python scripts/capture_layout_golden.py [OUT]

The committed file was captured before the connected-component and
layout kernels were batched; ``tests/test_engine.py`` asserts that the
current tree reproduces it exactly.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.util import layout_golden_pages, layout_golden_record  # noqa: E402


def main(out: str) -> None:
    golden = {name: layout_golden_record(img) for name, img in layout_golden_pages()}
    with open(out, "w") as f:
        json.dump(golden, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "tests", "fixtures", "ocr_layout_golden.json"))
