"""Metrics of a benchmark run: the end-to-end figures from the sessions'
timed jobs, and the per-layer figures of a traced run.

Kernel figures come from calling the public kernel functions in this
process on the workload's own images, a few at a time, with wall-clock
spans around each call. Spark figures come from the
traced session's uncompressed event log, restricted to the jobs whose
description marks them as timed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

import numpy as np

import expected
from spans import Spans

# Unit of every metric this benchmark reports.
UNITS = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "images_per_s": "1/s",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "scaling_1to4": "ratio",
    "kernels.detection.cc_ms_per_img": "ms",
    "kernels.detection.words_per_img": "count",
    "kernels.recognition.ms_per_img": "ms",
    "kernels.recognition.ms_per_line": "ms",
    "kernels.layout.ms_per_img": "ms",
    "kernels.layout.lines_per_img": "count",
    "codec.decode_ms_per_img": "ms",
    "kernels.preprocess.ms_per_img": "ms",
    "kernels.detection.batch_ms_per_img": "ms",
    "pdf.ms_per_doc": "ms",
    "dom.ms_per_doc": "ms",
    "pipeline.extract_ms_per_img": "ms",
    "pipeline.stage_sum_frac": "ratio",
    "pipeline.errors.decode": "count",
    "pipeline.errors.detect": "count",
    "pipeline.errors.ocr": "count",
    "pipeline.explode_s": "s",
    "pipeline.ocr_image_spans_s": "s",
    "pipeline.reweave_s": "s",
    "pipeline.dedup_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.ocr_task_skew": "ratio",
    "spark.python_sent_mb": "MB",
    "spark.python_returned_mb": "MB",
    "spark.python_run_s": "s",
    "spark.python_start_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "checkpoint.prune_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.snapshots": "count",
    "checkpoint.bytes_written_mb": "MB",
    "checkpoint.redelivered_pruned_frac": "ratio",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.overhead_frac": "ratio",
}

KERNEL_PASS_IMAGES = 32
PASS_BATCH = 8
REPEATS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _read(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path)


def _image_refs(docs) -> set:
    flat = expected.flatten(docs)
    return set(flat.loc[flat["kind"] == "image", "media_ref"])


def _verify_level(docs, session, truth) -> list[dict]:
    """Verify every timed job of one session; returns per-job figures."""
    exp = expected.expected_spans(docs, truth)
    image_refs = _image_refs(docs)
    out = []
    for job in session["jobs"]:
        counts = expected.check(_read(job["out"]), exp, docs.num_rows)
        out.append(
            {
                "seconds": job["seconds"],
                "docs": docs.num_rows,
                "images": len(counts["correct_refs"] & image_refs),
                "media_spans": counts["media_spans"],
                "failed_spans": counts["failed_spans"],
            }
        )
    return out


def _rate(jobs, key):
    return _median([j[key] / j["seconds"] for j in jobs])


def evaluate(wl, sessions: dict, truth: dict, cores: int) -> dict:
    """End-to-end metrics and correctness of a run."""
    try:
        verified = {name: _verify_level(wl.docs[name[:2]], s, truth) for name, s in sessions.items()}
        if "c4t" in sessions:
            resume = sessions["c4t"]["resume"]
            if not resume["final_noop"]:
                raise expected.Mismatch("the final full re-delivery was not a no-op")
            expected.check(_read(resume["out"]), expected.expected_spans(wl.resume_docs, truth), wl.resume_docs.num_rows)
    except expected.Mismatch as exc:
        print(f"MISMATCH: {exc}", file=sys.stderr)
        return {"correct": False, "attempted": 1, "failed": 0, "metrics": {}, "verified": {}}
    c4 = verified["c4"]
    metrics = {
        "setup_s": _median([s["setup_s"] for s in sessions.values()]),
        "docs_per_s": _rate(c4, "docs"),
        "images_per_s": _rate(c4, "images"),
    }
    if "c1" in verified:
        metrics["scaling_1to4"] = _rate(c4, "images") / (cores * _rate(verified["c1"], "images"))
    attempted = sum(j["media_spans"] for j in c4)
    failed = sum(j["failed_spans"] for j in c4)
    metrics["failed_frac"] = failed / attempted
    return {"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics, "verified": verified}


def kernel_pass(engine_conf: dict, payloads: list[bytes], spans: Spans) -> dict:
    """Time each public kernel, and the fused ``extract_payload_batch``,
    on the same images, ``PASS_BATCH`` images at a time."""
    from ocrs_spark.codec import decode_image
    from ocrs_spark.pipeline import build_engine, extract_payload_batch

    eng = build_engine(engine_conf)
    usable = []
    for p in payloads:  # images the detection batch accepts
        try:
            if eng.prepare_input(decode_image(p)).ndim == 2:
                usable.append(p)
        except Exception:  # undecodable: no kernel time to measure
            continue
    # Evenly spaced over the workload's images, whose density follows
    # their index.
    if len(usable) > KERNEL_PASS_IMAGES:
        usable = [usable[i] for i in np.linspace(0, len(usable) - 1, KERNEL_PASS_IMAGES).round().astype(int)]
    words = lines = 0

    def staged(batch, took, count):
        nonlocal words, lines
        greys = []

        def timed(name, fn, *args):
            with spans(name) as s:
                out = fn(*args)
            took[name] = took.get(name, 0.0) + s.seconds
            return out

        with spans("kernels"):
            for p in batch:
                greys.append(timed("kernels.preprocess", eng.prepare_input, timed("codec.decode_image", decode_image, p)))
            masks = timed("kernels.detection.batch", eng.detector.detect_text_pixels_batch, greys)
            for g, mask in zip(greys, masks):
                w = timed("kernels.detection.cc", eng.detector.words_from_mask, mask)
                ls = timed("kernels.layout", eng.find_text_lines, w)
                timed("kernels.recognition", eng.recognize_text, g, ls)
                if count:
                    words += len(w)
                    lines += len(ls)

    def fused(batch, took, count):
        with spans("pipeline.extract_payload_batch") as s:
            extract_payload_batch(eng, batch)
        took["pipeline.extract_payload_batch"] = s.seconds

    # Small batches, each passed REPEATS times through both paths, which
    # alternate going first; each figure is the sum over batches of the
    # fastest repeat, so that a change in host speed during the pass does
    # not tilt the staged/fused ratio.
    for run in (staged, fused):  # first-call and heap-growth costs stay out
        run(usable[:PASS_BATCH], {}, False)
    best: dict[str, float] = {}
    for i, b in enumerate(range(0, len(usable), PASS_BATCH)):
        batch = usable[b : b + PASS_BATCH]
        reps = []
        for r in range(REPEATS):
            took: dict[str, float] = {}
            for run in (staged, fused) if (i + r) % 2 == 0 else (fused, staged):
                run(batch, took, r == 0)
            reps.append(took)
        for k in reps[0]:
            best[k] = best.get(k, 0.0) + min(t[k] for t in reps)
    n = max(len(usable), 1)
    ms = {k: v * 1000 / n for k, v in best.items()}
    stage_sum = sum(v for k, v in ms.items() if k != "pipeline.extract_payload_batch")
    return {
        "codec.decode_ms_per_img": ms["codec.decode_image"],
        "kernels.preprocess.ms_per_img": ms["kernels.preprocess"],
        "kernels.detection.batch_ms_per_img": ms["kernels.detection.batch"],
        "kernels.detection.cc_ms_per_img": ms["kernels.detection.cc"],
        "kernels.detection.words_per_img": words / n,
        "kernels.layout.ms_per_img": ms["kernels.layout"],
        "kernels.layout.lines_per_img": lines / n,
        "kernels.recognition.ms_per_img": ms["kernels.recognition"],
        "kernels.recognition.ms_per_line": best.get("kernels.recognition", 0.0) * 1000 / max(lines, 1),
        "pipeline.extract_ms_per_img": ms["pipeline.extract_payload_batch"],
        "pipeline.stage_sum_frac": stage_sum / ms["pipeline.extract_payload_batch"] if usable else 0.0,
    }


def document_pass(pdfs: list[bytes], htmls: list[bytes], spans: Spans) -> dict:
    """Time the born-digital extractors on the workload's PDF and HTML
    payloads (0 where the workload has none)."""
    from ocrs_spark.dom import keep_block, parse_html, text_blocks
    from ocrs_spark.pdf import extract_pdf_text

    for p in pdfs:
        with spans("pdf.extract_pdf_text"):
            extract_pdf_text(p)
    for h in htmls:
        with spans("dom.text_blocks"):
            [b for b in text_blocks(parse_html(h.decode("utf-8", "replace"))) if keep_block(b)]
    return {
        "pdf.ms_per_doc": spans.total("pdf.extract_pdf_text") * 1000 / len(pdfs) if pdfs else 0.0,
        "dom.ms_per_doc": spans.total("dom.text_blocks") * 1000 / len(htmls) if htmls else 0.0,
    }


def spark_metrics(event_log_dir: str) -> dict:
    """Task and SQL metrics of the timed jobs, from the event log."""
    timed_stages: set = set()
    jobs = 0
    tasks = []
    ocr_stages: set = set()
    paths = glob.glob(os.path.join(event_log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {len(paths)}")
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if ":timed:" in desc:
                    jobs += 1
                    timed_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in timed_stages:
                tasks.append(ev)
    sent = returned = py_run = py_start = cpu = gc = sw = sr = 0.0
    per_stage: dict = {}
    for ev in tasks:
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        cpu += m.get("Executor CPU Time", 0) / 1e9
        gc += m.get("JVM GC Time", 0) / 1e3
        sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        is_ocr = False
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name", ""), acc.get("Update")
            try:
                upd = float(upd)
            except (TypeError, ValueError):
                continue
            if name == "data sent to Python workers":
                sent += upd
                is_ocr = True
            elif name == "data returned from Python workers":
                returned += upd
            elif name == "time to run Python workers":
                py_run += upd / 1e3
            elif name == "time to start Python workers":
                py_start += upd / 1e3
        if is_ocr:
            ocr_stages.add(ev["Stage ID"])
        per_stage.setdefault(ev["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
    skew = [max(per_stage[s]) / max(statistics.median(per_stage[s]), 1) for s in ocr_stages]
    mb = 1 / (1 << 20)
    return {
        "spark.jobs": jobs,
        "spark.tasks": len(tasks),
        "spark.shuffle_write_mb": sw * mb,
        "spark.shuffle_read_mb": sr * mb,
        "spark.ocr_task_skew": max(skew) if skew else 0.0,
        "spark.python_sent_mb": sent * mb,
        "spark.python_returned_mb": returned * mb,
        "spark.python_run_s": py_run,
        "spark.python_start_s": py_start,
        "spark.executor_cpu_s": cpu,
        "spark.gc_s": gc,
    }


def per_layer(wl, sessions: dict, payloads: dict, e2e: dict, run_id: str, verified: dict) -> dict:
    """Per-layer metrics of a traced run (sessions "c4" untraced and
    "c4t" traced). Spark figures are per timed job."""
    spans = Spans(run_id)
    traced, plain = sessions["c4t"], sessions["c4"]
    images = [b for r, b in sorted(payloads.items()) if r not in wl.texts]
    out = kernel_pass(wl.engine, images, spans)
    out.update(
        document_pass(
            [payloads[r] for r in sorted(wl.texts) if r.startswith("pdf-")],
            [payloads[r] for r in sorted(wl.texts) if r.startswith("html-")],
            spans,
        )
    )
    n_jobs = len(traced["jobs"])
    spark = spark_metrics(traced["event_log_dir"])
    for k in ("spark.jobs", "spark.tasks", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
              "spark.python_sent_mb", "spark.python_returned_mb", "spark.python_run_s",
              "spark.python_start_s", "spark.executor_cpu_s", "spark.gc_s"):
        spark[k] /= n_jobs
    out.update(spark)
    out.update(traced["prefixes"])
    flat = expected.flatten(wl.docs["c4"])
    img = flat[flat["kind"] == "image"]
    out["pipeline.dedup_ratio"] = len(img) / img["media_ref"].nunique()
    r = traced["resume"]
    delivered = sum(t.num_rows for t in wl.deliveries)  # the final full re-delivery too
    unique = wl.resume_docs.num_rows
    committed = _read(r["out"]).num_rows
    out.update(
        {
            "checkpoint.prune_s": r["prune_s"],
            "checkpoint.commit_s": r["commit_s"],
            "checkpoint.snapshots": r["snapshots"],
            "checkpoint.bytes_written_mb": r["bytes_written"] / (1 << 20),
            "checkpoint.redelivered_pruned_frac": (delivered - committed) / (delivered - unique),
        }
    )
    both = [plain, traced]
    out["session.start_s"] = _median([s["session.start_s"] for s in both])
    out["session.warm_s"] = _median([s["session.warm_s"] for s in both])
    plain_rate = _rate(verified["c4"], "docs")
    traced_rate = _rate(verified["c4t"], "docs")
    out["trace.overhead_frac"] = plain_rate / traced_rate - 1
    out["scaling_1to4"] = e2e.get("scaling_1to4", 0.0)
    out["peak_rss_mb"] = e2e["peak_rss_mb"]
    out["_spans"] = spans.rows + [dict(s, session=name) for name, s_ in sessions.items() for s in s_["spans"]]
    return out
