"""Benchmark of the ocrs_spark OCR pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The seed makes the inputs; the program
receives only parquet documents and a ``(media_ref, bytes)`` media table.
Every Spark session runs in its own process pinned to its CPUs (see
``session.py``). The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the host (nproc, pinned CPUs, CPU time stolen by the host),
the seed and the planted bad payloads.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload untraced and traced (Spark event log, spans around the public
calls), at ``local[1]`` where the workload measures scaling, delivers
part of it through the checkpointed pipeline, times the kernels in this
process on the workload's own payloads, writes the trace and the
per-layer JSON under ``.perfbench/`` and reports the per-layer metrics.
See README.md for why each workload exists.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import expected  # noqa: E402
import layers  # noqa: E402

MAX_CORES = 4
EXIT_BY_S = 177  # a run must end within 180 s
RUN_DEADLINE_S = 165  # sessions still running then are killed
START = time.perf_counter()


class Workload:
    """Inputs of one workload. ``build`` writes the parquet inputs under
    ``work`` for each session level ("c4": local[4], "c1": local[1]) and
    returns the media table."""

    engine: dict
    texts: dict[str, str] = {}  # reference text of PDF and HTML payloads
    scaling = False  # whether the traced run adds a local[1] session
    # Traced run only: the first RESUME_DOCS documents delivered in
    # N_INCREMENTS increments, each re-sending REDELIVER x its size of
    # committed documents, then all of them again, through the
    # checkpointed pipeline (the checkpoint layer's figures).
    RESUME_DOCS: int
    N_INCREMENTS: int
    REDELIVER = 0.25

    def __init__(self, rng, work: str):
        self.rng = rng
        self.work = work

    def _levels(self, docs) -> None:
        """Write the documents and the deliveries; a local[1] session runs
        the same job, warmed up on an eighth of it (a full warm-up at one
        core took ~35 s on a 4-vCPU VM)."""
        path = _write(docs, self.work, "docs.parquet")
        self.docs = {"c4": docs}
        self.resume_docs = docs.slice(0, self.RESUME_DOCS)
        self.deliveries = corpus.increments(self.rng, self.resume_docs, self.N_INCREMENTS, self.REDELIVER)
        self.inputs = {
            "c4": {
                "docs": path,
                "warm_docs": path,
                "increments": [_write(t, self.work, f"inc-{i}.parquet") for i, t in enumerate(self.deliveries)],
            }
        }
        if self.scaling:
            self.docs["c1"] = docs
            eighth = docs.slice(0, docs.num_rows // 8)
            self.inputs["c1"] = {"docs": path, "warm_docs": _write(eighth, self.work, "warm-c1.parquet")}


def _write(table, *parts) -> str:
    path = os.path.join(*parts)
    pq.write_table(table, path)
    return path


class OcrPages(Workload):
    engine = corpus.PAGE_ENGINE
    scaling = True
    N_PAGES, N_BAD, N_BORN_DIGITAL = 96, 3, 3
    RESUME_DOCS, N_INCREMENTS = 10, 1

    def build(self):
        docs, media, self.planted, self.texts = corpus.pages_corpus(
            self.rng, self.N_PAGES, self.N_BAD, self.N_BORN_DIGITAL
        )
        self.media_path = _write(media, self.work, "media.parquet")
        self._levels(docs)
        return media


class WeaveMixed(Workload):
    engine = corpus.THUMB_ENGINE
    # No local[1] session: at one core this job takes longer than a run
    # may, and a slice small enough is dominated by the per-job OCR of
    # every unique payload.
    N_DOCS = 30_000
    MEDIA = dict(n_images=160, n_pdf=40, n_html=40, n_bad=6, n_colour_gif=2)
    RESUME_DOCS, N_INCREMENTS = 9_000, 3

    def build(self):
        media, refs, self.planted, self.texts = corpus.mixed_media(self.rng, **self.MEDIA)
        docs = corpus.mixed_docs(self.rng, self.N_DOCS, refs)
        self.media_path = _write(media, self.work, "media.parquet")
        self._levels(docs)
        return media


WORKLOADS = {"ocr_pages": OcrPages, "weave_mixed": WeaveMixed}


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident kB) of every process in /proc."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page_kb
        except (OSError, IndexError, ValueError):  # the process ended meanwhile
            continue
        out[int(pid)] = (ppid, rss)
    return out


def _children() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _) in _processes().items() if ppid == me]


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants
    (session processes, JVMs, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_kb() -> int:
        procs = _processes()
        me = os.getpid()
        total = 0
        for pid, (_, rss) in procs.items():
            p = pid
            while p and p != me:
                p = procs.get(p, (0, 0))[0]
            if p == me:
                total += rss
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join()


def _reap_children(grace_s: float) -> None:
    """Wait for every child, including orphaned JVMs and Python workers
    (this process is their subreaper); kill what outlives ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def _steal_s() -> float:
    """CPU time the host took from this machine's CPUs so far (diagnostic:
    a slow run with high steal was slowed by its neighbours)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def run_session(spec: dict) -> dict:
    """Run one session process and return its result dict."""
    path = os.path.join(spec["work"], f"spec-{spec['name']}.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    log = os.path.join(spec["work"], f"session-{spec['name']}.log")
    env = dict(os.environ, TMPDIR=os.path.join(spec["work"], "tmp"), PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "session.py"), path],
            cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
        )
        try:
            code = proc.wait(timeout=max(1.0, RUN_DEADLINE_S - (time.perf_counter() - START)))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"session {spec['name']} failed: {code}")
    with open(spec["result"]) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, _on_sigterm)
    ctypes.CDLL(None).prctl(36, 1)  # PR_SET_CHILD_SUBREAPER: orphans come back to us

    affinity = sorted(os.sched_getaffinity(0))
    cores = min(MAX_CORES, len(affinity))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rng = np.random.default_rng(args.seed)
    wl = WORKLOADS[args.workload](rng, work)
    sampler = RssSampler()
    phase = time.perf_counter()

    def note(what):
        nonlocal phase
        now = time.perf_counter()
        sys.stderr.write(f"{what}: {now - phase:.2f}s\n")
        phase = now

    try:
        media = wl.build()
        note("inputs")
        # The untraced run is one local[4] session. The traced run has an
        # untraced and a traced local[4] session (for the overhead) and,
        # for workloads with ``scaling``, a local[1] session running the
        # same job (for scaling_1to4); their timed windows are shorter so
        # that it ends well within the deadline.
        levels = [("c4", cores, False, 2, args.seconds)]
        if args.trace:
            levels = [("c4", cores, False, 2, args.seconds / 4), ("c4t", cores, True, 2, args.seconds / 2)]
            if wl.scaling:
                levels.append(("c1", 1, False, 1, args.seconds / 2))
            sampler.start()
        steal = _steal_s()
        sessions = {}
        for name, k, traced, warmups, seconds in levels:
            spec = {
                "name": name, "workload": args.workload, "root": ROOT,
                "cores": k, "cpus": affinity[:k], "partitions": 4 * k,
                "warmups": warmups, "seconds": seconds,
                "trace": traced, "run_id": run_id, "engine": wl.engine,
                "work": work, "media": wl.media_path,
                "out": os.path.join(work, f"out-{name}"),
                "event_log_dir": os.path.join(work, f"eventlog-{name}"),
                "result": os.path.join(work, f"result-{name}.json"),
                **wl.inputs[name[:2]],
            }
            os.makedirs(spec["out"], exist_ok=True)
            sessions[name] = run_session(spec)
            sessions[name]["event_log_dir"] = spec["event_log_dir"]
            sys.stderr.write(
                f"session {name}: setup {sessions[name]['setup_s']:.2f}s "
                f"(start {sessions[name]['session.start_s']:.2f}s), jobs "
                + " ".join(f"{j['seconds']:.2f}s" for j in sessions[name]["jobs"]) + "\n"
            )
        steal = _steal_s() - steal
        if sampler.is_alive():
            sampler.stop()
        note("sessions")

        payloads = dict(zip(media.column("media_ref").to_pylist(), media.column("bytes").to_pylist()))
        images = {r: b for r, b in payloads.items() if r not in wl.texts}
        truth = {**expected.image_texts(wl.engine, images, cores, work), **wl.texts}
        note("reference")
        result = layers.evaluate(wl, sessions, truth, cores)
        note("verify")
        metrics = result["metrics"]
        info = {
            "workload": args.workload, "seed": args.seed, "nproc": len(affinity),
            "cpus": {level[0]: affinity[: level[1]] for level in levels},
            "steal_s": steal, "planted": wl.planted, "trace": args.trace,
        }
        if args.trace and result["correct"]:
            metrics["peak_rss_mb"] = sampler.peak_kb / 1024
            per_layer = layers.per_layer(wl, sessions, payloads, metrics, run_id, result["verified"])
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{run_id}.json"), "w") as f:
                json.dump({"info": info, "spans": per_layer.pop("_spans")}, f)
            with open(os.path.join(out_dir, f"layers-{run_id}.json"), "w") as f:
                json.dump({"info": info, "metrics": per_layer}, f, indent=1)
            shown = per_layer
        else:
            shown = metrics
        print(json.dumps(info))
        units = layers.UNITS
        print(
            json.dumps(
                {
                    "correct": result["correct"],
                    "attempted": result["attempted"],
                    "failed": result["failed"],
                    "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in shown.items()},
                }
            )
        )
        return 0 if result["correct"] else 1
    finally:
        if sampler.is_alive():
            sampler.stop()
        _reap_children(max(1.0, EXIT_BY_S - (time.perf_counter() - START)))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
