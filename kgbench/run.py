#!/usr/bin/env python3
"""kgspark benchmark: one seeded workload, checked, timed, one JSON line.

Usage (from the repository root):

    python3 kgbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Workloads (closed loop: one Spark application, one job or query at a time,
two task slots):

- ``crawl_batch``: ``jobs/kg_construct.main --input-format warc --checkpoint``
  over Common-Crawl-shaped ``.warc.gz`` archives with a big generated
  lexicon plus the 31 real forms and pre-closed redirects;
- ``operator_suite``: one non-KG operator query of
  ``__spark_entry__.queries()`` per module (textops, dedup, similarity,
  sampling, align, streaming), in registry order, over a seeded
  documents/embeddings/events slice.

The runner generates the inputs (a pure function of workload and seed),
evaluates the DuckDB oracles, self-tests the output check, records the
host and runs the calibration, all before the measured process starts. It
then starts ``worker.py`` in its own session, samples the RSS of that
process tree, waits for it, signals and reports any process the session
left behind, and prints a detail line (``DETAIL {...}``) followed by the
result line. ``setup_s`` counts from the start of the worker process to
its first timed pass.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKER_DEADLINE_S = 165  # the whole run must end within 180 s

# (query, kgspark module) in __spark_entry__.queries() order: one query
# per operator module, the cheapest of each module on these slices, so a
# pass takes about 4 s on a 4-core host. unigram_logprob is left out while
# it fails its oracle on these slices (its float average depends on scan
# order, an open ROADMAP item).
SUITE = [
    ("mixture_sample", "sampling"), ("align_tokens_exact", "align"),
    ("lang_id", "textops"), ("dedup_exact", "dedup"),
    ("embed_cosine_topk", "similarity"), ("events_sessionize", "streaming"),
]

# Two task slots: the passes are per-job fixed cost, which two slots run as
# fast as four, and the two free cores absorb the host's other load.
SLOTS = 2

# Warm-up: a fixed number of untimed passes, so every run opens its timed
# window at the same point of the warm-up. Then ceil(--seconds /
# nominal_pass_s) timed passes, at least min_timed; the count does not
# depend on how fast the host runs. In a fresh process pass times drop
# steeply for two passes and then slowly (2 slots, 4-core host: crawl 18.1,
# 12.3, 10.4, 10.3 s; suite 17.0, 4.7, 4.4, 3.8, 4.0, 3.7, 4.1, 3.9 s).
WORKLOADS = {
    "crawl_batch": {"docs": 60, "archives": 6, "long_doc_words": 1500,
                    "generated_forms": 50_000,
                    "window": {"warmup": 2, "min_timed": 2, "nominal_pass_s": 10.0}},
    "operator_suite": {"docs": 250, "embeddings": 200, "events": 5_000,
                       "window": {"warmup": 2, "min_timed": 4, "nominal_pass_s": 3.5}},
}


def host_record() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": mem_kb / 2**20,
        "loadavg_at_start": os.getloadavg(),
        "python": platform.python_version(),
        "java": (java.stderr.strip().splitlines() or ["?"])[0],
    }


def calibrate(root: str) -> float:
    """``calib_md5_per_sec`` as bench.py records it (``hw_calib(1)``: one
    process pinned to core 0 hashing for 2 s), on an otherwise idle run."""
    out = subprocess.run(
        [sys.executable, "-c", "from bench_scaling import _burn; print(_burn(1) / 2.0)"],
        cwd=root, stdout=subprocess.PIPE, text=True, check=True).stdout
    return float(out)


def make_inputs(workload: str, seed: int, inp: str) -> dict:
    """Write the inputs under ``inp``; return the worker's input paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import check
    import inputs

    p = WORKLOADS[workload]
    if workload == "crawl_batch":
        rows = inputs.crawl_docs(seed, 0, p["docs"], p["long_doc_words"])
        per = -(-len(rows) // p["archives"])
        for k in range(p["archives"]):
            inputs.write_warc_gz(rows[k * per:(k + 1) * per],
                                 os.path.join(inp, "crawl", f"crawl-{k:05d}.warc.gz"))
        truth = os.path.join(inp, "truth", "truth.parquet")
        inputs.write_truth(rows, truth)
        inputs.write_dims(os.path.join(inp, "dims"), p["generated_forms"])
        check.assert_generated_forms_absent(
            truth, inputs.generated_form_tails(p["generated_forms"]))
        check.write_reference_spots([(r[0], r[3]) for r in rows],
                                    os.path.join(inp, "truth", "spots_ref.parquet"),
                                    pa.string())
        return {"crawl": os.path.join(inp, "crawl"),
                "truth": os.path.join(inp, "truth"),
                "lexicon": os.path.join(inp, "dims", "lexicon.parquet"),
                "redirects": os.path.join(inp, "dims", "redirects.parquet"),
                "sameas": os.path.join(inp, "dims", "sameas.parquet")}
    slice_dir = os.path.join(inp, "slice")
    inputs.write_operator_slice(slice_dir, seed, p["docs"], p["embeddings"], p["events"])
    docs = pq.read_table(os.path.join(slice_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    check.write_reference_spots([(d["doc_id"], d["text"]) for d in docs],
                                os.path.join(slice_dir, "spots_ref.parquet"), pa.int64())
    return {"slice": slice_dir, "suite": SUITE}


def expected(workload: str, paths: dict, cache, input_hash: str) -> dict:
    """The oracle's results for the inputs ``make_inputs`` wrote."""
    import check

    if workload == "crawl_batch":
        cols, rows = check.expected_triples(cache, input_hash, paths["truth"])
        return {"cols": cols, "rows": rows}
    import __spark_entry__ as entry

    osql = entry.oracle_sql()
    views = check.slice_views(paths["slice"])
    want = {}
    for name, _module in SUITE:
        cols, rows = cache.result(input_hash, views, check.with_reference_spots(osql[name]))
        want[name] = {"cols": cols, "rows": rows}
    return want


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of every process in the worker's session."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid, self.peak, self._stop_evt = sid, 0, threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.peak = max(self.peak, rss_bytes(session_pids(self.sid)))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def sweep(sid: int) -> list[dict]:
    """Signal whatever the worker's session left running; return them."""
    left = []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_pids(sid)
        for pid in pids:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")[:120]
                os.kill(pid, sig)
                left.append({"pid": pid, "signal": sig.name, "cmd": cmd})
            except OSError:
                pass
        deadline = time.time() + 5
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)
        if not session_pids(sid):
            break
    return left


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("kgspark", "jobs", "__spark_entry__.py", "bench_scaling.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"kgbench: {need} not found in {root}; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".kgbench-work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(args, root, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, base: str, work: str) -> int:
    import check
    import inputs
    import layers
    import selftest

    host = host_record()
    cache = check.OracleCache(os.path.join(base, "oracle-cache"))
    t0 = time.time()
    paths = make_inputs(args.workload, args.seed, os.path.join(work, "in"))
    input_hash = inputs.content_hash(os.path.join(work, "in"))
    want = expected(args.workload, paths, cache, input_hash)
    prep_s = time.time() - t0
    selftest_ok = selftest.main() == 0
    host["calib_md5_per_sec"] = calibrate(root)

    expected_path = os.path.join(work, "expected.json")
    with open(expected_path, "w") as fh:
        json.dump(want, fh)
    cfg = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "slots": min(os.cpu_count(), SLOTS),
           "work": work, "expected": expected_path,
           "result": os.path.join(work, "result.json"),
           **WORKLOADS[args.workload]["window"], **paths}
    # every JVM (the spark-submit launcher too) keeps its temp files and
    # perf-data file inside the work dir
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([root, HERE]),
               TMPDIR=os.path.join(work, "tmp"),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    log_path = os.path.join(work, "worker.log")
    cfg["t_spawn"] = time.time()
    with open(os.path.join(work, "config.json"), "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             os.path.join(work, "config.json")],
            cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=WORKER_DEADLINE_S)
        except subprocess.TimeoutExpired:
            rc = None
        sampler.stop()
        left = sweep(proc.pid)
        if rc is None:
            proc.wait()
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(f"kgbench: worker failed (exit {rc}, signalled {left})\n{tail}",
              file=sys.stderr)
        return 1
    with open(cfg["result"]) as fh:
        res = json.load(fh)

    peak_rss_gb = sampler.peak / 2**30
    if args.trace:
        metrics = res["per_layer"]
        metrics["session.peak_rss_gb"] = peak_rss_gb
        units = dict(layers.metric_names())
    else:
        metrics = res["end_to_end"]
        units = {"setup_s": "s", "pass_s": "s", "step_geomean_s": "s"}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "input_sha256": input_hash,
        "input_prep_s": prep_s, "oracle_cache": {"hits": cache.hits, "misses": cache.misses},
        "check_selftest_ok": selftest_ok, "peak_rss_gb": peak_rss_gb,
        "signalled_processes": left, **res["record"],
    }
    print("DETAIL " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": bool(res["correct"] and selftest_ok),
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
