"""The Spark-free reference answer and the check against it.

Expected image text comes from ``OcrEngine.get_text`` on each unique
payload, decoded by ``codec.decode_image``, in plain Python with no
Spark. PDF and HTML payloads carry the text the generator put in them.
A payload the reference cannot read expects an error (``None``).

The check compares each output document's spans, in order, with the
input document's spans sorted by offset: same ``(kind, text, media_ref,
order)``. A media span the pipeline returned without text is an error
row; it counts as failed, not as a wrong answer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MEDIA_KINDS = ("image", "pdf", "html")


def _image_texts(engine_conf: dict, payloads: list[bytes]) -> list[str | None]:
    from ocrs_spark.codec import decode_image
    from ocrs_spark.pipeline import build_engine

    engine = build_engine(engine_conf)
    out = []
    for data in payloads:
        try:
            out.append(engine.get_text(engine.prepare_input(decode_image(data))))
        except Exception:  # the reference cannot read it: expect an error row
            out.append(None)
    return out


def image_texts(engine_conf: dict, payloads: dict[str, bytes], workers: int, work: str) -> dict[str, str | None]:
    """Reference text per media_ref, computed by ``workers`` processes
    (at most the CPUs this process may use), each running this file on
    its share of the payloads."""
    refs = sorted(payloads)
    procs = []
    for i in range(workers):
        share = refs[i::workers]
        src = os.path.join(work, f"reference-{i}.parquet")
        dst = os.path.join(work, f"reference-{i}.json")
        pq.write_table(pa.table({"media_ref": share, "bytes": pa.array([payloads[r] for r in share], pa.binary())}), src)
        procs.append((subprocess.Popen([sys.executable, __file__, json.dumps(engine_conf), src, dst]), dst))
    out = {}
    for proc, dst in procs:
        if proc.wait() != 0:
            raise RuntimeError(f"reference worker failed with exit code {proc.returncode}")
        with open(dst) as f:
            out.update(json.load(f))
    return out


def flatten(docs: pa.Table) -> pd.DataFrame:
    """One row per span: doc_id, pos (array position), kind, text,
    media_ref, offset."""
    spans = docs.column("spans").combine_chunks()
    lengths = spans.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    flat = spans.flatten()
    doc_ids = docs.column("doc_id").to_numpy()
    starts = np.cumsum(lengths) - lengths
    return pd.DataFrame(
        {
            "doc_id": np.repeat(doc_ids, lengths),
            "pos": np.arange(len(flat)) - np.repeat(starts, lengths),
            "kind": flat.field("kind").to_numpy(zero_copy_only=False),
            "text": flat.field("text").to_numpy(zero_copy_only=False),
            "media_ref": flat.field("media_ref").to_numpy(zero_copy_only=False),
            "offset": flat.field("offset").to_numpy(zero_copy_only=False),
        }
    )


def expected_spans(docs: pa.Table, media_text: dict[str, str | None]) -> pd.DataFrame:
    """The reference output: input spans sorted by offset, media spans
    carrying the reference text of their payload."""
    exp = flatten(docs).sort_values(["doc_id", "offset"], kind="stable").reset_index(drop=True)
    exp["pos"] = exp.groupby("doc_id", sort=False).cumcount()
    media = exp["kind"].isin(MEDIA_KINDS).to_numpy()
    exp.loc[media, "text"] = exp.loc[media, "media_ref"].map(media_text).to_numpy()
    return exp


class Mismatch(AssertionError):
    pass


def check(out: pa.Table, expected: pd.DataFrame, n_docs: int) -> dict:
    """Compare pipeline output with the reference. Raises ``Mismatch`` on
    any wrong document or span; returns the count of media spans, of
    failed (error) media spans, and the media refs that came back correct."""
    if out.num_rows != n_docs or len(out.column("doc_id").unique()) != n_docs:
        raise Mismatch(f"{out.num_rows} output documents for {n_docs} input documents")
    got = flatten(out).sort_values(["doc_id", "pos"], kind="stable").reset_index(drop=True)
    if len(got) != len(expected):
        raise Mismatch(f"{len(got)} output spans, expected {len(expected)}")
    for col in ("doc_id", "pos", "kind", "media_ref", "offset"):
        a, b = got[col].to_numpy(), expected[col].to_numpy()
        same = (a == b) | (pd.isna(a) & pd.isna(b))
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            raise Mismatch(f"span {col} differs at {got.iloc[i].to_dict()} vs {expected.iloc[i].to_dict()}")
    media = got["kind"].isin(MEDIA_KINDS).to_numpy()
    failed = media & got["text"].isna().to_numpy()
    a, b = got["text"].to_numpy(), expected["text"].to_numpy()
    ok = (a == b) | failed | (~media & pd.isna(a) & pd.isna(b))
    if not ok.all():
        i = int(np.flatnonzero(~ok)[0])
        raise Mismatch(f"wrong text at {got.iloc[i].to_dict()}, expected {expected['text'].iloc[i]!r}")
    good = media & ~failed
    return {
        "media_spans": int(media.sum()),
        "failed_spans": int(failed.sum()),
        "correct_refs": set(got.loc[good, "media_ref"]),
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    conf, src, dst = sys.argv[1:]
    table = pq.read_table(src)
    texts = _image_texts(json.loads(conf), table.column("bytes").to_pylist())
    with open(dst, "w") as f:
        json.dump(dict(zip(table.column("media_ref").to_pylist(), texts)), f)
