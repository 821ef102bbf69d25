"""Perceptual image deduplication: dHash + banded Hamming search.

The image-side twin of MinHash text dedup, the standard cheap
near-dup detector for multimodal corpora (difference hash: grayscale,
bilinear-resize to 9x8, threshold adjacent-column differences into a
64-bit signature; brightness/contrast shifts preserve it because only
ORDER between neighbors matters).

Scale shape mirrors the text LSH ops: hashes are computed in one Arrow
pass over the encoded payload table (decode + resize per image —
irreducibly per-payload, exactly the OCR decode path's shape), then
candidate pairs come from bucketing the 64-bit hash into 4 x 16-bit
BANDS (Hamming distance <= 3 guarantees at least one exact band by
pigeonhole; <= 6 is still recalled w.h.p. across 4 bands) — a
bucket equi-join, never all-pairs. Verification XORs the hashes and
popcounts JVM-side (``bit_count``), so only the hash kernel touches
Python.

The corpus is the deterministic structured-image table built here:
seeded-noise patterns where every doc_id % 5 in {0, 1} pair within a
doc_id // 5 group is a planted near-duplicate (member 1 adds +1
brightness — dHash-invariant — and a 3x3 local patch corruption), all
other docs are unique patterns. No SQL engine can express
decode->resize->hash, so the driver check is rows-only; the REAL
correctness gate is tests/test_imagededup.py: kernel fixtures plus
full parity against an independent single-process reference pipeline
(the BPE-style two-implementation oracle), and exact recovery of the
planted pair set.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from . import derived_table
from ..codec import decode_image, encode_png, encode_rawi
from ..kernels.resize import resize_bilinear
from .similarity import bucket_pairs

HASH_BITS = 64
BANDS = 4
BAND_BITS = HASH_BITS // BANDS
HAMMING_MAX = 6

_FMTS = ("rawi", "png")


def _synth_image(doc_id: int) -> np.ndarray:
    """Deterministic structured grayscale-ish RGB image. Docs with
    doc_id % 5 in {0, 1} share their group's base pattern (member 1
    perturbed); everyone else is unique."""
    group, member = divmod(doc_id, 5)
    h = 24 + (doc_id * 11) % 17
    w = 32 + (doc_id * 13) % 19
    if member in (0, 1):
        # shared geometry within the group so the pair is comparable
        h = 24 + (group * 11) % 17
        w = 32 + (group * 13) % 19
        rng = np.random.default_rng(900_000 + group)
        base = rng.integers(0, 250, (h, w), dtype=np.uint8)
        if member == 1:
            base = np.minimum(base + 1, 255).astype(np.uint8)  # dHash-invariant
            base[2:5, 2:5] = 128  # small local corruption
    else:
        rng = np.random.default_rng(100_000 + doc_id)
        base = rng.integers(0, 250, (h, w), dtype=np.uint8)
    return np.repeat(base[:, :, None], 3, axis=2)


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash of an (H, W, C) uint8 image."""
    gray = np.asarray(img, dtype=np.float32).mean(axis=2)
    small = resize_bilinear(gray, 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).astype(np.uint64).ravel()
    return int((bits << np.arange(64, dtype=np.uint64)).sum())


def _hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "dhash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_image(bytes(payload))
            out["doc_id"].append(int(doc_id))
            # store as signed 64-bit (Spark long); bit ops are
            # two's-complement-safe on both sides
            out["dhash"].append(np.uint64(dhash64(img)).astype(np.int64).item())
        yield pd.DataFrame(out)


def _synth_payload(doc_id: int) -> bytes:
    img = _synth_image(doc_id)
    return encode_rawi(img) if _FMTS[doc_id % 2] == "rawi" else encode_png(img)


def image_payload_table(spark, sf_dir):
    """Structured-image payload corpus, landed once per (session, sf)."""
    return derived_table(
        spark, sf_dir, "img_payloads", ("doc_id",),
        "doc_id bigint, payload binary", _synth_payload,
    )


def image_hashes(spark, sf_dir):
    return image_payload_table(spark, sf_dir).mapInPandas(
        _hash_batches, schema="doc_id bigint, dhash bigint"
    )


def dhash_pairs(hashes, hamming_max: int = HAMMING_MAX):
    """Banded candidate join + JVM-side Hamming verify. r6: all bands
    come out of ONE posexplode projection — the former per-band select
    + unionAll re-ran the upstream decode->hash Arrow chain once per
    band whenever exchange reuse didn't fire."""
    band_vals = F.array(
        *[
            F.expr(f"(dhash >> {b * BAND_BITS}) & {(1 << BAND_BITS) - 1}")
            for b in range(BANDS)
        ]
    )
    bands = hashes.select(
        "doc_id", "dhash", F.posexplode(band_vals).alias("band", "bv")
    )
    # In-bucket pair explosion instead of a bands self-join: the
    # self-join re-executed the decode->hash chain on both sides.
    cand = bucket_pairs(
        bands, ["band", "bv"], "doc_id", ("doc_a", "doc_b", "ha", "hb"),
        carry="dhash",
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("ha ^ hb")).cast("int"))
        .filter(F.col("hamming") <= hamming_max)
        .select("doc_a", "doc_b", "hamming")
    )


def image_dhash_pairs(spark, sf_dir):
    """(doc_a, doc_b, hamming): perceptual near-dup image pairs."""
    return dhash_pairs(image_hashes(spark, sf_dir))


QUERIES = {"image_dhash_pairs": image_dhash_pairs}
ORACLES: dict = {}  # decode->resize->hash is not SQL-expressible: rows-only


def image_dedup_clusters(spark, sf_dir):
    """(doc_id, cluster_id, is_canonical): connected components over
    the verified perceptual-pair graph — the multimodal twin of
    ``dedupgraph.dedup_clusters``: the pair list says WHICH images
    near-duplicate each other, the components say which one survives
    (min doc_id per cluster, the same canonical-pick rule). Reuses the
    text side's min-label-propagation loop (candidate-pair-sized edge
    table, a handful of join+groupBy rounds, per-round localCheckpoint)
    so the scale argument is inherited, not re-made. Like the pair row,
    the driver check is rows-only (decode->hash is not SQL);
    tests/test_imagededup.py pins the exact planted cluster set."""
    from .dedupgraph import connected_components

    pairs = image_dhash_pairs(spark, sf_dir).localCheckpoint()
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


QUERIES["image_dedup_clusters"] = image_dedup_clusters
