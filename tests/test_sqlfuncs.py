"""SQL-callable kernel surface: ocr_text / ocr_extract / image_meta
registered by ``sqlfuncs.register_sql_functions`` must run from pure
``spark.sql`` strings and agree with the library engine byte-for-byte
(the SQL spelling of the reference's one-shot ``OcrEngine::get_text``,
ocrs/src/lib.rs:424-437)."""

from __future__ import annotations

import numpy as np
import pytest

from ocrs_spark.codec import decode_image, encode_png, encode_rawi
from ocrs_spark.fixtures import fake_engine, make_word_image
from ocrs_spark.gif import encode_gif
from ocrs_spark.jpeg import encode_jpeg
from ocrs_spark.pdf import encode_pdf
from ocrs_spark.sqlfuncs import register_sql_functions

from .util import colour_gif

HTML = b"<html><body><p>one paragraph of real body text here</p></body></html>"


@pytest.fixture(scope="module")
def payload_view(spark):
    img = make_word_image(3)
    rows = [
        (1, "rawi", bytearray(encode_rawi(img))),
        (2, "png", bytearray(encode_png(img))),
        (3, "pdf", bytearray(encode_pdf(["hello pdf world"]))),
        (4, "html", bytearray(HTML)),
        (5, "bad", bytearray(b"\x00not an image")),
        (6, "grey gif", bytearray(encode_gif(img[:, :, 0]))),
        (7, "colour gif", bytearray(colour_gif(img[:, :, 0]))),
        (8, "jpeg", bytearray(encode_jpeg(img))),
    ]
    df = spark.createDataFrame(rows, "id long, kind string, payload binary")
    df.createOrReplaceTempView("sql_payloads")
    register_sql_functions(spark)
    return img


def _by_id(rows):
    return {r["id"]: r for r in rows}


def test_ocr_text_matches_library_engine(spark, payload_view):
    img = payload_view
    eng = fake_engine()
    expected = eng.get_text(eng.prepare_input(img))
    got = _by_id(
        spark.sql("SELECT id, ocr_text(payload) AS t FROM sql_payloads").collect()
    )
    assert got[1]["t"] == expected
    # PNG and RAWI encode the same pixels -> identical recognized text
    assert got[2]["t"] == expected
    assert got[3]["t"] == "hello pdf world"
    assert got[4]["t"] == "one paragraph of real body text here"
    assert got[5]["t"] is None  # decode failure -> null text, not a crash


def test_ocr_extract_struct_fields(spark, payload_view):
    got = _by_id(
        spark.sql(
            "SELECT id, r.* FROM "
            "(SELECT id, ocr_extract(payload) AS r FROM sql_payloads)"
        ).collect()
    )
    assert got[1]["n_words"] == 3 and got[1]["n_lines"] == 1
    assert got[1]["error"] is None
    assert got[5]["error"].startswith("decode:")
    # every surviving row agrees with ocr_text
    texts = _by_id(
        spark.sql("SELECT id, ocr_text(payload) AS t FROM sql_payloads").collect()
    )
    for i in (1, 2, 3, 4):
        assert got[i]["text"] == texts[i]["t"]


def test_image_meta_dimensions_and_formats(spark, payload_view):
    img = payload_view
    got = _by_id(
        spark.sql(
            "SELECT id, r.* FROM "
            "(SELECT id, image_meta(payload) AS r FROM sql_payloads)"
        ).collect()
    )
    h, w, c = img.shape
    for i in (1, 2):
        assert (got[i]["width"], got[i]["height"], got[i]["channels"]) == (w, h, c)
        assert got[i]["error"] is None
    assert got[1]["format"] == "rawi" and got[2]["format"] == "png"
    # pdf/html are classified but not decoded as pixels
    assert got[3]["format"] == "pdf" and got[3]["width"] is None
    assert got[4]["format"] == "html" and got[4]["error"] is None
    assert got[5]["format"] == "unknown" and got[5]["error"] is not None
    assert [got[i]["format"] for i in (6, 7, 8)] == ["gif", "gif", "jpeg"]
    for i, c in ((6, 1), (7, 3), (8, 3)):
        assert (got[i]["width"], got[i]["height"], got[i]["channels"]) == (w, h, c)
        assert got[i]["error"] is None


def test_sql_udf_and_library_agree_row_for_row(spark, payload_view):
    """SQL ``ocr_text``, the pipeline's ``ocr_image_spans`` mapInPandas
    path and ``OcrEngine.get_text`` give the same text for every row:
    every format, GIFs with grey and colour palettes included."""
    from ocrs_spark.pipeline import ocr_image_spans

    sql = _by_id(
        spark.sql("SELECT id, ocr_text(payload) AS t FROM sql_payloads").collect()
    )
    spans = spark.sql(
        "SELECT CAST(id AS STRING) AS doc_id, 'image' AS kind, "
        "CAST(id AS STRING) AS media_ref, 0 AS offset FROM sql_payloads"
    )
    media = spark.sql(
        "SELECT CAST(id AS STRING) AS media_ref, payload AS bytes FROM sql_payloads"
    )
    udf = {
        int(r["doc_id"]): r["ocr_text"]
        for r in ocr_image_spans(spans, media, {"kind": "fake"}).collect()
    }
    assert udf == {i: r["t"] for i, r in sql.items()}
    eng = fake_engine()
    images = "SELECT id, payload FROM sql_payloads WHERE id IN (1, 2, 6, 7, 8)"
    for r in spark.sql(images).collect():
        want = eng.get_text(eng.prepare_input(decode_image(bytes(r["payload"]))))
        assert want and sql[r["id"]]["t"] == want


def test_sql_surface_composes_with_relational_sql(spark, payload_view):
    """The registered kernels participate in ordinary SQL plans
    (filter + aggregate over the struct result)."""
    n = spark.sql(
        """
        SELECT count(*) AS n
        FROM (SELECT ocr_extract(payload) AS r FROM sql_payloads)
        WHERE r.error IS NULL AND r.n_words > 0
        """
    ).collect()[0]["n"]
    assert n == 7  # every row but the bad one carries words and is kept

    words = _by_id(
        spark.sql(
            "SELECT id, ocr_extract(payload).n_words AS w FROM sql_payloads"
        ).collect()
    )
    assert words[4]["w"] == 7
