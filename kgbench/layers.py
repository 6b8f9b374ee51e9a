"""Per-layer metrics of one traced pass (``--trace 1``).

After the warm-up the run does an untraced pass, the same pass traced,
and another untraced pass; ``trace.overhead_s`` is the traced pass minus
the mean of the two untraced ones, so a trend in pass times that is
linear over the three cancels out. Every per-layer metric is reported on
every workload: a layer the workload does not run reports 0 (no span of it
was open). Which end-to-end metric each one should move is listed in
``kgbench/METRICS.md``.

Attribution rules, applied to the spans and counters of ``tracing.Tracer``:

- a layer's ``self_s`` is the summed self time of its spans;
- jobs submitted from ``kgspark/lineage.py`` (the read-back that counts the
  rows of each written stage) belong to ``lineage``, whichever stage span
  they ran under, with their wall time and stage counters;
- WARC parsing runs fused into the ``extract`` checkpoint stage; it is split
  off by plan node: ``warc.py_s`` is the Python-worker time of the
  ``MapInPandas`` nodes (record walk, HTTP unwrap), ``extract.py_s`` that of
  the ``ArrowEvalPython`` node, and the stage's self, CPU and GC time are
  shared between the two in that proportion.
"""

from __future__ import annotations

import os
import shutil

from tracing import PY_TIME, Tracer, self_times
from worker import KG_LAYERS, OPS_MODULES, STAGE_LAYER, UDF_LAYERS

COUNTERS = ("self_s", "cpu_s", "gc_s", "jobs", "shuffle_mb", "spill_mb")
SETUP = {"session.start_s": "session_start_s", "automaton.artifact_s": "artifact_s",
         "automaton.build_s": "automaton_build_s", "canonicalize.close_s": "close_s"}
RATIOS = ("segment.fanout", "segment.overlap_waste", "spot.kept_frac",
          "disambig.candidates_per_spot", "disambig.linked_frac",
          "overlaps.kept_frac", "triples.dup_frac")


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    names = [f"{layer}.{c}" for layer in KG_LAYERS for c in COUNTERS]
    names += [f"{layer}.py_s" for layer in UDF_LAYERS]
    names += list(SETUP) + list(RATIOS)
    names += ["disambig.broadcast_mb", "overlaps.peak_exec_mb", "session.peak_rss_gb",
              "lineage.write_mb_per_input_mb", "lineage.manifest_s"]
    names += [f"ops.{m}.{c}" for m in OPS_MODULES for c in ("self_s", "cpu_s", "jobs")]
    names += ["trace.coverage", "trace.overhead_s"]
    return [(n, _unit(n)) for n in names]


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), (".jobs", "count"), ("_mb", "MB"), ("_gb", "GB")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _node_sum(span_list, node_prefix: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0)
               for s in span_list for n in s["nodes"] if n["name"].startswith(node_prefix))


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_counters(tracer: Tracer, root_id: str) -> dict[str, dict]:
    """layer -> {self_s, cpu_s, gc_s, jobs, shuffle_mb, spill_mb, py_s, run_s}."""
    selfs = self_times(tracer.spans)
    out: dict[str, dict] = {}

    def add(layer: str, key: str, v: float) -> None:
        out.setdefault(layer, {}).setdefault(key, 0.0)
        out[layer][key] += v

    seen_stages: set[int] = set()
    for s in tracer.spans:
        if s["id"] == root_id:
            continue
        add(s["layer"], "self_s", selfs[s["id"]])
        if s["layer"] == "extract":  # WARC nodes run fused into this stage
            add("warc", "py_s", _node_sum([s], "MapInPandas", PY_TIME))
            add("extract", "py_s", _node_sum([s], "ArrowEvalPython", PY_TIME))
        else:
            add(s["layer"], "py_s", _node_sum([s], "", PY_TIME))
        for job in s["jobs"]:
            layer = s["layer"]
            if "lineage.py" in job["name"]:
                layer = "lineage"
                if job["start"] is not None and job["end"] is not None:
                    add(s["layer"], "self_s", -(job["end"] - job["start"]))
                    add("lineage", "self_s", job["end"] - job["start"])
            add(layer, "jobs", 1)
            for sid in job["stages"]:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = s["stages"][sid]
                add(layer, "cpu_s", st["cpu_s"])
                add(layer, "gc_s", st["gc_s"])
                add(layer, "run_s", st["run_s"])
                add(layer, "shuffle_mb", st["shuffle_b"] / 1e6)
                add(layer, "spill_mb", st["spill_b"] / 1e6)
    return out


def _untraced(run) -> dict:
    res = run.one_pass(timed=True)
    run.attempted += 1
    run.failed += not res["ok"]
    return res


def traced_metrics(run) -> dict[str, float]:
    """Untraced, traced and untraced pass, then every per-layer metric."""
    before = _untraced(run)
    tracer = Tracer(run.spark)
    kg = run.cfg["workload"] == "crawl_batch"
    if kg:
        import kgspark.lineage
        import kgspark.triples
        import kgspark.warc

        tracer.patch(kgspark.lineage.StageRunner, "run",
                     lambda _self, name, *a, **k: STAGE_LAYER[name])
        tracer.patch(kgspark.lineage, "read_manifest", "lineage")
        tracer.patch(kgspark.lineage, "write_manifest", "lineage")
        tracer.patch(kgspark.triples, "write_triples", "triples")
        tracer.patch(kgspark.warc, "read_warc", "warc")
        tracer.patch(kgspark.warc, "http_responses", "warc")
    try:
        traced = run.one_pass(timed=True, tracer=tracer, keep=kg)
    finally:
        tracer.unpatch()
    run.attempted += 1
    run.failed += not traced["ok"]
    after = _untraced(run)
    tracer.collect()
    root = next(s for s in tracer.spans if s["layer"] == "pass") if kg else None
    if root is None:
        root = {"id": None, "start": min(s["start"] for s in tracer.spans),
                "end": max(s["end"] for s in tracer.spans)}
    layers = layer_counters(tracer, root["id"])
    m = {name: 0.0 for name, _unit in metric_names()}
    setup = run.record["setup"]
    for name, key in SETUP.items():
        m[name] = setup.get(key, 0.0)

    if kg:
        _split_warc(layers)
        stages = {st["stage"]: st for st in traced["summary"]["stages"]}
        rows = {k: v["output_rows"] for k, v in stages.items()}
        by_layer = {}
        for s in tracer.spans:
            by_layer.setdefault(s["layer"], []).append(s)
        raw_spots = _node_sum(by_layer.get("spot", []), "Generate", "number of output rows")
        candidates = _node_sum(by_layer.get("disambig", []), "BroadcastHashJoin",
                               "number of output rows")
        triple_rows = _node_sum(by_layer.get("triples", []), "Generate",
                                "number of output rows")
        m["segment.fanout"] = _ratio(rows["segment"], rows["extract"])
        m["segment.overlap_waste"] = _overlap_waste(traced["ckpt"])
        m["spot.kept_frac"] = _ratio(rows["spot"], raw_spots)
        m["disambig.candidates_per_spot"] = _ratio(candidates, rows["spot"])
        m["disambig.linked_frac"] = _ratio(rows["link"], rows["spot"])
        m["overlaps.kept_frac"] = _ratio(rows["overlaps"], rows["link"])
        m["triples.dup_frac"] = 1.0 - _ratio(rows["triples"], triple_rows)
        m["disambig.broadcast_mb"] = _node_sum(
            by_layer.get("disambig", []), "BroadcastExchange", "data size") / 1e6
        m["overlaps.peak_exec_mb"] = max(
            [st["peak_exec_b"] for s in by_layer.get("overlaps", [])
             for st in s["stages"].values()] or [0]) / 1e6
        m["lineage.write_mb_per_input_mb"] = _ratio(
            _du(traced["ckpt"]), _du(run.cfg["crawl"]))
        m["lineage.manifest_s"] = layers.get("lineage", {}).get("self_s", 0.0)
        for layer in KG_LAYERS:
            for c in COUNTERS:
                m[f"{layer}.{c}"] = layers.get(layer, {}).get(c, 0.0)
        for layer in UDF_LAYERS:
            m[f"{layer}.py_s"] = layers.get(layer, {}).get("py_s", 0.0)
        shutil.rmtree(traced["out"], ignore_errors=True)
        shutil.rmtree(traced["ckpt"], ignore_errors=True)
    else:
        for mod in OPS_MODULES:
            got = layers.get(f"ops.{mod}", {})
            for c in ("self_s", "cpu_s", "jobs"):
                m[f"ops.{mod}.{c}"] = got.get(c, 0.0)
    covered = sum(v.get("self_s", 0.0) for v in layers.values())
    m["trace.coverage"] = covered / (root["end"] - root["start"])
    untraced_s = (before["wall_s"] + after["wall_s"]) / 2
    m["trace.overhead_s"] = traced["wall_s"] - untraced_s
    run.record["trace"] = {
        "untraced_passes_s": [before["wall_s"], after["wall_s"]],
        "traced_pass_s": traced["wall_s"],
        "spans": [{k: s[k] for k in ("id", "layer", "parent", "start", "end")}
                  for s in tracer.spans],
        "layers": layers,
    }
    return m


def _split_warc(layers: dict) -> None:
    """Move the WARC share of the fused extract stage to ``warc``: its
    self, CPU and GC time in proportion to the two layers' Python-worker
    time; the jobs that ran the WARC nodes are the extract stage's."""
    ext, warc = layers.get("extract", {}), layers.setdefault("warc", {})
    py = warc.get("py_s", 0.0) + ext.get("py_s", 0.0)
    share = warc.get("py_s", 0.0) / py if py else 0.0
    for key in ("self_s", "cpu_s", "gc_s"):
        moved = ext.get(key, 0.0) * share
        warc[key] = warc.get(key, 0.0) + moved
        ext[key] = ext.get(key, 0.0) - moved
    warc["jobs"] = warc.get("jobs", 0.0) + ext.get("jobs", 0.0)


def _overlap_waste(ckpt: str) -> float:
    """Overlap chars re-scanned per text char: segment chars / text chars - 1."""
    import duckdb

    con = duckdb.connect()
    try:
        seg = con.execute(
            "SELECT sum(length(seg_text)) FROM read_parquet(?)",
            [os.path.join(ckpt, "segment", "*.parquet")]).fetchone()[0] or 0
        txt = con.execute(
            "SELECT sum(length(text)) FROM read_parquet(?)",
            [os.path.join(ckpt, "extract", "*.parquet")]).fetchone()[0] or 0
    finally:
        con.close()
    return _ratio(seg, txt) - 1.0 if txt else 0.0

