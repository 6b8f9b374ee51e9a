"""The Spark side of one benchmark run (started by ``run.py``).

Usage: python3 kgbench/worker.py <config.json>

Reads the run config written by ``run.py``, starts the session with
deployment settings only, builds the dims, warms every task slot, runs
a fixed number of warm-up passes, then a fixed number of timed
passes. Every pass is
checked against the oracle result ``run.py`` prepared. Writes one JSON
result file and stops the session and its JVM before exiting.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil
import statistics
import sys
import time

# jobs/kg_construct stage name -> kgspark module that implements it
STAGE_LAYER = {
    "extract": "extract", "segment": "segment", "spot": "spot",
    "link": "disambig", "overlaps": "overlaps", "entity_types": "entity_types",
    "canonicalize": "canonicalize", "triples": "triples",
}
KG_LAYERS = ("warc", "extract", "segment", "spot", "disambig", "overlaps",
             "entity_types", "canonicalize", "triples")
UDF_LAYERS = ("warc", "extract", "segment", "spot")
OPS_MODULES = ("textops", "dedup", "similarity", "sampling", "align", "streaming")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.work = cfg["work"]
        self.record: dict = {"setup": {}, "warmup_passes_s": [], "passes_s": [],
                             "steps_s": {}, "checks": []}
        self.failed = 0
        self.attempted = 0
        self.correct = True
        self.n_passes = 0  # every pass writes under its own tag

    # -- session -----------------------------------------------------------
    def start_session(self):
        from kgspark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            master=f"local[{self.cfg['slots']}]",
            app_name=f"kgbench-{self.cfg['workload']}",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.record["setup"]["session_start_s"] = time.time() - t0
        self.record["spark_conf"] = dict(self.spark.sparkContext.getConf().getAll())
        self.record["spark_version"] = self.spark.version

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()

    def check(self, what: str, got_cols, got_rows, want) -> bool:
        from check import compare

        ok, why = compare(got_cols, got_rows, want["cols"], want["rows"])
        if not ok:
            self.correct = False
            self.record["checks"].append({"what": what, "reason": why})
        return ok

    # -- timed window --------------------------------------------------------
    def warm_up(self, one_pass) -> None:
        """A fixed number (``warmup``) of untimed passes, so every run opens
        its timed window at the same point of the process's warm-up."""
        for _ in range(self.cfg["warmup"]):
            self.record["warmup_passes_s"].append(one_pass(timed=False)["wall_s"])

    def window(self, one_pass) -> None:
        """Warm-up, then a fixed number of timed passes: ``seconds`` worth
        at the workload's nominal pass time, at least ``min_timed``. The
        count does not depend on how fast the host runs. Their times go to
        the run record."""
        c = self.cfg
        self.warm_up(one_pass)
        n = max(c["min_timed"], math.ceil(c["seconds"] / c["nominal_pass_s"]))
        self.t_first_pass = time.time()
        for _ in range(n):
            self.attempted += 1
            res = one_pass(timed=True)
            if not res["ok"]:
                self.failed += 1
            self.record["passes_s"].append(res["wall_s"])
            for k, v in res["steps"].items():
                self.record["steps_s"].setdefault(k, []).append(v)


# ---------------------------------------------------------------------------
class CrawlBatch(Run):
    def setup(self) -> None:
        from kgspark.automaton import write_lexicon_artifact
        from kgspark.canonicalize import write_closed_redirects
        from kgspark.spot import spot_documents

        c, spark, setup = self.cfg, self.spark, self.record["setup"]
        self.artifact = os.path.join(self.work, "lexicon-artifact")
        self.redirects = os.path.join(self.work, "redirects-closed")
        t0 = time.time()
        write_lexicon_artifact(spark.read.parquet(c["lexicon"]), self.artifact)
        setup["artifact_s"] = time.time() - t0
        t0 = time.time()
        write_closed_redirects(spark.read.parquet(c["redirects"]), self.redirects)
        setup["close_s"] = time.time() - t0
        # one concurrent task per slot: each Python worker builds (or maps
        # the host-compiled) automaton the spot stage will use
        t0 = time.time()
        slots = c["slots"]
        probe = spark.createDataFrame(
            [(f"probe://{i}", "spark join table") for i in range(slots)],
            "url string, text string").repartition(slots)
        spot_documents(probe, self.artifact).collect()
        setup["automaton_build_s"] = time.time() - t0
        self.want = c["expected"]

    def argv(self, tag: str) -> list[str]:
        c = self.cfg
        return ["--input", c["crawl"], "--output", os.path.join(self.work, f"out-{tag}"),
                "--input-format", "warc",
                "--checkpoint", os.path.join(self.work, f"ckpt-{tag}"),
                "--lexicon", c["lexicon"], "--redirects", self.redirects,
                "--redirects-preclosed", "--sameas", c["sameas"],
                "--lexicon-artifact", self.artifact]

    def one_pass(self, timed: bool, tracer=None, keep: bool = False) -> dict:
        from check import read_triples
        from jobs.kg_construct import main

        self.n_passes += 1
        tag = str(self.n_passes)
        argv = self.argv(tag)
        buf = io.StringIO()
        t0 = time.time()
        with contextlib.redirect_stdout(buf):
            if tracer is None:
                rc = main(argv)
            else:
                with tracer.span("pass"):
                    rc = main(argv)
        wall = time.time() - t0
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        cols, rows = read_triples(argv[3])
        ok = rc == 0 and self.check(f"triples pass {tag}", cols, rows, self.want)
        stages = {m["stage"]: m["wall_sec"] for m in summary["stages"]}
        if not keep:
            shutil.rmtree(argv[3], ignore_errors=True)
            shutil.rmtree(argv[7], ignore_errors=True)
        return {"ok": ok, "wall_s": wall, "steps": stages, "summary": summary,
                "out": argv[3], "ckpt": argv[7]}


# ---------------------------------------------------------------------------
class OperatorSuite(Run):
    def setup(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.want = self.cfg["expected"]

    def one_pass(self, timed: bool, tracer=None, keep: bool = False) -> dict:
        steps, ok = {}, True
        results = []
        t_all = time.time()
        for name, module in self.cfg["suite"]:
            t0 = time.time()
            if tracer is None:
                df = self.queries[name](self.spark, self.cfg["slice"])
                rows = df.collect()
            else:
                with tracer.span(f"ops.{module}", query=name):
                    df = self.queries[name](self.spark, self.cfg["slice"])
                    rows = df.collect()
            steps[name] = time.time() - t0
            results.append((name, df.columns, rows))
        wall = time.time() - t_all
        for name, cols, rows in results:
            ok &= self.check(f"query {name}", cols, [tuple(r) for r in rows],
                             self.want[name])
        return {"ok": ok, "wall_s": wall, "steps": steps}


WORKLOADS = {"crawl_batch": CrawlBatch, "operator_suite": OperatorSuite}


# ---------------------------------------------------------------------------
def end_to_end(run: Run, t_spawn: float) -> dict:
    rec = run.record
    return {
        "setup_s": run.t_first_pass - t_spawn,
        "pass_s": statistics.median(rec["passes_s"]),
        "step_geomean_s": geomean([statistics.median(v) for v in rec["steps_s"].values()]),
    }


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    with open(cfg["expected"]) as fh:
        cfg["expected"] = json.load(fh)
    run = WORKLOADS[cfg["workload"]](cfg)
    run.start_session()
    try:
        run.setup()
        if cfg["trace"]:
            from layers import traced_metrics

            run.warm_up(run.one_pass)
            result = {"per_layer": traced_metrics(run)}
        else:
            run.window(run.one_pass)
            result = {"end_to_end": end_to_end(run, cfg["t_spawn"])}
    finally:
        run.stop_session()
    result.update(correct=run.correct, attempted=run.attempted, failed=run.failed,
                  record=run.record)
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
