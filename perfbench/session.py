"""One Spark session of a benchmark run, in its own process.

Usage: ``python3 perfbench/session.py <spec.json>``; the spec is written
by ``run.py`` and the results land in ``spec["result"]``.

The process pins itself, and so the JVM and Python workers it starts, to
``spec["cpus"]`` and sizes the JVM's thread pools to match with
``-XX:ActiveProcessorCount``, so ``local[k]`` measures k CPUs and not the
host. Set-up (session start, Python worker spawn and engine build) ends
when ``spec["warmups"]`` warm-up jobs have finished. Then a closed loop
with one client submits one job at a time until ``spec["seconds"]`` have
passed.
"""

from __future__ import annotations

import json
import os
import sys
import time

T0 = time.perf_counter()

from spans import Spans  # noqa: E402


def _start(spec: dict):
    from ocrs_spark.session import get_spark

    cores = spec["cores"]
    tmp = os.path.join(spec["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-XX:ActiveProcessorCount={cores} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(spec["work"], "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(spec["work"], "warehouse"),
    }
    if spec["trace"]:
        os.makedirs(spec["event_log_dir"], exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": spec["event_log_dir"],
            }
        )
    spark = get_spark(
        app_name=f"perfbench-{spec['workload']}-{spec['name']}",
        master=f"local[{cores}]",
        shuffle_partitions=spec["partitions"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pipeline_job(spark, spec, docs_path, out_path):
    from ocrs_spark.pipeline import ocr_documents

    docs = spark.read.parquet(docs_path)
    media = spark.read.parquet(spec["media"])
    out = ocr_documents(docs, media, engine_conf=spec["engine"], partitions=spec["partitions"])
    out.write.parquet(out_path)


def _traced_checkpoint(root, spans):
    """A DocumentCheckpoint whose commits record a span."""
    from ocrs_spark.checkpoint import DocumentCheckpoint

    class TracedCheckpoint(DocumentCheckpoint):
        def commit(self, result, metrics=None):
            with spans("checkpoint.commit"):
                return super().commit(result, metrics)

    return TracedCheckpoint(root)


def _resume(spark, spec, spans) -> dict:
    """Traced run only: deliver the increments through ``run_checkpointed``
    into a fresh checkpoint. Pruning is also forced on its own before each
    delivery so its cost can be read apart from the rest."""
    from ocrs_spark.checkpoint import run_checkpointed

    root = os.path.join(spec["out"], "checkpoint")
    ckpt = _traced_checkpoint(root, spans)
    media = spark.read.parquet(spec["media"])
    snap = None
    for i, path in enumerate(spec["increments"]):
        docs = spark.read.parquet(path)
        spark.sparkContext.setJobDescription(f"{spec['workload']}:resume:prune:{i}")
        with spans("checkpoint.prune"):
            ckpt.prune(docs).count()
        spark.sparkContext.setJobDescription(f"{spec['workload']}:resume:deliver:{i}")
        with spans("checkpoint.run_checkpointed"):
            snap = run_checkpointed(docs, media, ckpt, engine_conf=spec["engine"], partitions=spec["partitions"])
    out = os.path.join(spec["out"], "resume-result")
    spark.sparkContext.setJobDescription(f"{spec['workload']}:resume:read_result")
    ckpt.read_result(spark).write.parquet(out)
    return {
        "out": out,
        "final_noop": snap is None,
        "snapshots": len(ckpt.snapshots()),
        "bytes_written": sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
        ),
        "prune_s": spans.total("checkpoint.prune"),
        "commit_s": spans.total("checkpoint.commit"),
    }


def _timed_loop(spark, spec, spans):
    """Closed loop, one client: submit the next job when the last one has
    finished, until ``seconds`` have passed."""
    sc = spark.sparkContext
    jobs = []
    deadline = time.perf_counter() + spec["seconds"]
    while not jobs or time.perf_counter() < deadline:
        j = len(jobs)
        sc.setJobDescription(f"{spec['workload']}:timed:{j}")
        out = os.path.join(spec["out"], f"job-{j}")
        with spans("job") as s:
            _pipeline_job(spark, spec, spec["docs"], out)
        jobs.append({"seconds": s.seconds, "out": out})
    return jobs


def _prefixes(spark, spec, spans) -> dict:
    """Traced run only: force each prefix of the pipeline once, and count
    the OCR UDF's error rows by kind."""
    from pyspark.sql import functions as F

    from ocrs_spark.pipeline import explode_spans, ocr_image_spans, ocr_documents

    sc = spark.sparkContext
    docs = spark.read.parquet(spec["docs"])
    media = spark.read.parquet(spec["media"])
    out = {}
    sc.setJobDescription(f"{spec['workload']}:prefix:explode")
    with spans("pipeline.explode_spans") as s:
        explode_spans(docs).write.format("noop").mode("overwrite").save()
    out["pipeline.explode_s"] = s.seconds
    sc.setJobDescription(f"{spec['workload']}:prefix:ocr_image_spans")
    results = ocr_image_spans(explode_spans(docs), media, spec["engine"], partitions=spec["partitions"])
    with spans("pipeline.ocr_image_spans") as s:
        rows = (
            results.groupBy(F.substring_index("error", ":", 1).alias("kind"))
            .count()
            .collect()
        )
    out["pipeline.ocr_image_spans_s"] = s.seconds
    errors = {r["kind"]: r["count"] for r in rows if r["kind"] is not None}
    for kind in ("decode", "detect", "ocr"):
        out[f"pipeline.errors.{kind}"] = errors.get(kind, 0)
    sc.setJobDescription(f"{spec['workload']}:prefix:reweave")
    with spans("pipeline.ocr_documents") as s:
        ocr_documents(docs, media, engine_conf=spec["engine"], partitions=spec["partitions"]).write.format(
            "noop"
        ).mode("overwrite").save()
    out["pipeline.reweave_s"] = s.seconds
    return out


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    os.sched_setaffinity(0, set(spec["cpus"]))
    sys.path.insert(0, spec["root"])
    spans = Spans(spec["run_id"])
    with spans("session.start"):
        spark = _start(spec)
    t_started = time.perf_counter()
    sc = spark.sparkContext
    sc.setJobDescription(f"{spec['workload']}:warmup")
    with spans("session.warm"):
        # Warm-up jobs write parquet like the timed jobs. At local[4] there
        # are two: after one, the next job still ran ~25% slower (4-vCPU VM).
        for i in range(spec["warmups"]):
            _pipeline_job(spark, spec, spec["warm_docs"], os.path.join(spec["out"], f"warm-{i}"))
    t_warm = time.perf_counter()
    result = {
        "setup_s": t_warm - T0,
        "session.start_s": t_started - T0,
        "session.warm_s": t_warm - t_started,
        "jobs": _timed_loop(spark, spec, spans),
    }
    if spec["trace"]:
        result["prefixes"] = _prefixes(spark, spec, spans)
        if "increments" in spec:
            result["resume"] = _resume(spark, spec, spans)
    sc.setJobDescription(None)
    _stop(spark)
    result["spans"] = spans.rows
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
