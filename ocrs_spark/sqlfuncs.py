"""SQL-callable surface for the extraction engine.

``register_sql_functions(spark)`` makes the non-relational kernels —
the fused OCR/PDF/HTML extraction and the image decoders — reachable
from ``spark.sql(...)`` alone, so a pure-SQL user can run

    SELECT doc_id, ocr_text(payload)  FROM media_table
    SELECT ocr_extract(payload).*     FROM media_table
    SELECT image_meta(payload).width  FROM media_table

with no DataFrame code. This is the SQL twin of the reference's
one-shot library call (``OcrEngine::get_text``, ocrs/src/lib.rs:424-437)
and of its CLI (ocrs-cli/src/main.rs): everything relational in this
engine is already plain Spark SQL, and these functions close the gap
for the imperative kernels.

Scale shape: each function is an Arrow-batched pandas UDF running the
SAME fused batch kernel as the distributed pipeline
(``pipeline.extract_payload_batch`` — stacked NCHW detection per Arrow
batch, executor-singleton model via ``build_engine``), so the SQL
spelling pays no penalty over the DataFrame spelling: no per-row
Python, one model load per worker, pixels never leave the executor.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf

OCR_EXTRACT_TYPE = (
    "struct<text: string, n_words: int, n_lines: int, error: string>"
)
IMAGE_META_TYPE = (
    "struct<format: string, width: int, height: int, channels: int, error: string>"
)


def register_sql_functions(spark, engine_conf: dict | None = None) -> list[str]:
    """Register the kernel UDFs on ``spark``; returns the names.

    ``engine_conf`` follows ``pipeline.build_engine`` (default: the
    hermetic fake models; pass ``{"kind": "onnx", ...}`` for real
    model files). The conf is captured in the UDF closure — ship it
    with ``spark-submit --py-files``; each executor builds its engine
    singleton on first batch.
    """
    conf = dict(engine_conf or {"kind": "fake"})

    @pandas_udf(OCR_EXTRACT_TYPE)
    def ocr_extract(payloads: pd.Series) -> pd.DataFrame:
        from .pipeline import build_engine, extract_payload_batch

        engine = build_engine(conf)
        texts, n_words, n_lines, errors = extract_payload_batch(
            engine, list(payloads)
        )
        return pd.DataFrame(
            {"text": texts, "n_words": n_words, "n_lines": n_lines, "error": errors}
        )

    @pandas_udf("string")
    def ocr_text(payloads: pd.Series) -> pd.Series:
        from .pipeline import build_engine, extract_payload_batch

        engine = build_engine(conf)
        texts, _, _, _ = extract_payload_batch(engine, list(payloads))
        return pd.Series(texts, dtype=object)

    @pandas_udf(IMAGE_META_TYPE)
    def image_meta(payloads: pd.Series) -> pd.DataFrame:
        from .codec import decode_image, sniff_format

        out = {"format": [], "width": [], "height": [], "channels": [], "error": []}
        for p in payloads:
            payload = bytes(p) if p is not None else b""
            fmt = sniff_format(payload)
            w = h = c = None
            err = None
            if fmt not in ("pdf", "html"):
                try:
                    h, w, c = map(int, decode_image(payload).shape)
                except Exception as exc:
                    err = str(exc)
            out["format"].append(fmt)
            out["width"].append(w)
            out["height"].append(h)
            out["channels"].append(c)
            out["error"].append(err)
        return pd.DataFrame(out)

    names = {"ocr_extract": ocr_extract, "ocr_text": ocr_text, "image_meta": image_meta}
    for name, fn in names.items():
        spark.udf.register(name, fn)
    return sorted(names)
