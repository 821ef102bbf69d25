"""The per-row synthesized input tables and the one helper that builds
them (``ops.derived_table``).

Oracles check query outputs only, so the payload bytes of every
synthesized table are pinned here instead: row count plus an md5 over
the ``doc_id``-sorted rows, frozen in
``tests/fixtures/derived_tables_digest.json``. Regenerate it from the
repository root with ``python -m tests.test_derived_tables`` (only
when a table's bytes are meant to change).
"""

import hashlib
import importlib
import json
import os

import pytest
from pyspark.sql import functions as F

from tests.test_plans import SF_DIR as SF  # the sf0.001 tables

FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "derived_tables_digest.json"
)

# (module under ocrs_spark.ops, builder) for every per-row table.
TABLES = [
    ("anchortext", "_anchored_corpus"),
    ("officedoc", "_docx_payloads"),
    ("outline", "_outline_corpus"),
    ("audio", "_wav_payloads"),
    ("mailbox", "_mail_payloads"),
    ("webdoc", "rich_html_docs"),
    ("webdoc", "pdf_payload_table"),
    ("webdoc", "pdf_layout_payload_table"),
    ("linkgraph", "_linked_corpus"),
    ("webdataset", "_shard_payloads"),
    ("imagededup", "image_payload_table"),
    ("tables", "_table_corpus"),
    ("datauri", "_pages"),
    ("mediarouter", "_mixed_payloads"),
    ("imagemeta", "_png_payloads"),
    ("imagemeta", "_gif_payloads"),
    ("imagemeta", "_agif_payloads"),
    ("multimodal", "payload_table"),
    ("video", "_avi_payloads"),
    ("pdfmixed", "mixed_pdf_payload_table"),
]


def _table(spark, mod: str, fn: str):
    return getattr(importlib.import_module(f"ocrs_spark.ops.{mod}"), fn)(spark, SF)


def digest(df) -> dict:
    """Row count and md5 over the doc_id-sorted rows (every value
    length-prefixed, binary as raw bytes, the rest as ``str``)."""
    h = hashlib.md5()
    h.update(",".join(df.columns).encode())
    rows = df.orderBy("doc_id").collect()
    for row in rows:
        for v in row:
            b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()
            h.update(len(b).to_bytes(8, "little") + b)
    return {"rows": len(rows), "md5": h.hexdigest()}


@pytest.mark.parametrize("mod,fn", TABLES, ids=[f"{m}.{f}" for m, f in TABLES])
def test_table_bytes_unchanged(spark, mod, fn):
    with open(FIXTURE) as f:
        want = json.load(f)[f"{mod}.{fn}"]
    assert digest(_table(spark, mod, fn)) == want


def _square_and_tag(x: int):
    return x * x, f"t{x}"


def _partition_id(_doc_id: int) -> int:
    from pyspark import TaskContext

    return TaskContext.get().partitionId()


def test_derived_table_applies_row_fn_scalar_and_tuple(spark, tmp_path):
    from ocrs_spark.ops import derived_table

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(i, f"w{i} x") for i in range(7)], "doc_id bigint, text string"
    )
    docs.write.parquet(f"{sf}/documents.parquet")

    one = derived_table(
        spark, sf, "t_scalar", ("doc_id", "text"), "doc_id bigint, s string",
        lambda d, t: t.upper() + str(d),
    )
    assert sorted(map(tuple, one.collect())) == [
        (i, f"W{i} X{i}") for i in range(7)
    ]
    two = derived_table(
        spark, sf, "t_tuple", ("doc_id",), "doc_id bigint, sq bigint, tag string",
        _square_and_tag,
    )
    assert two.columns == ["doc_id", "sq", "tag"]
    assert sorted(map(tuple, two.collect())) == [
        (i,) + _square_and_tag(i) for i in range(7)
    ]


def test_derived_table_spreads_a_one_partition_scan(spark, tmp_path):
    from ocrs_spark.ops import derived_table

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id bigint"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    assert spark.read.parquet(f"{sf}/documents.parquet").rdd.getNumPartitions() == 1

    seen = derived_table(
        spark, sf, "t_spread", ("doc_id",), "doc_id bigint, pid int",
        _partition_id,
    )
    want = spark.sparkContext.defaultParallelism
    assert want > 1
    # the map ran in as many tasks as the session has cores
    assert seen.select("pid").distinct().count() == want


def test_derived_table_second_call_reads_the_landed_table(spark, tmp_path):
    from ocrs_spark.ops import derived_table

    sf = str(tmp_path)
    spark.createDataFrame([(1,), (2,)], "doc_id bigint").write.parquet(
        f"{sf}/documents.parquet"
    )

    built = []

    def columns(docs):
        built.append(1)
        return ("doc_id", docs.select(F.count("*")).scalar())

    def table():
        return derived_table(
            spark, sf, "t_once", columns, "doc_id bigint, v bigint",
            lambda d, n: d + 100 * n,
        )

    first = table()
    # rows appended to the input are invisible to the landed table: the
    # second call reads it back instead of rebuilding
    spark.createDataFrame([(3,)], "doc_id bigint").write.mode("append").parquet(
        f"{sf}/documents.parquet"
    )
    second = table()
    assert built == [1]  # the input is read (and counted) only once
    assert sorted(map(tuple, second.collect())) == [(1, 201), (2, 202)]
    assert second.inputFiles() == first.inputFiles()
    assert "documents.parquet" not in " ".join(second.inputFiles())


if __name__ == "__main__":
    from ocrs_spark.session import get_spark

    spark = get_spark(app_name="derived_table_digest")
    out = {f"{m}.{f}": digest(_table(spark, m, f)) for m, f in TABLES}
    with open(FIXTURE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()
