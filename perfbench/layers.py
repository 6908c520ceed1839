"""Per-layer metrics of a traced run, named as in BENCHMARK.json.

Times are span self times (a layer's span minus its child spans), the
median over the run's traced passes. Spark counters come from the event
log, attributed to a layer through the span each job ran under. A layer
a workload never calls reports 0.

Names live here and in BENCHMARK.json; units only in BENCHMARK.json. The
runner refuses to start when the two name sets differ.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# span name → self-time metric
SPAN_METRICS = {
    "pass": "pass.driver_s",
    "plans.flagship.span_agg": "flagship.span_agg_s",
    "plans.flagship.aggregate": "flagship.aggregate_s",
    "operators.tile_kernel": "tile_kernel.s",
    "operators.assign.range_partition": "assign.range_partition_s",
    "operators.checkpoint": "checkpoint.write_s",
    "operators.decode": "decode.s",
    "operators.assign": "assign.s",
    "operators.pip_join": "pip.s",
    "operators.dedupe.ngram": "dedupe.ngram_s",
    "operators.dedupe.minhash": "dedupe.minhash_s",
    "operators.dedupe.simhash": "dedupe.simhash_s",
    **{f"operators.ann.{p}": f"ann.{p}_s" for p in
       ("brute", "ivf", "ivf2", "pq", "ivfpq", "lsh", "pairs_blocked")},
}

# event-log counters: metric → (span-name prefix, counter, scale)
SPAN_COUNTERS = {
    "flagship.shuffle_write_bytes": ("plans.flagship.span_agg", "shuffle_write_bytes", 1),
    "flagship.spill_bytes": ("plans.flagship.span_agg", "spill_bytes", 1),
    "flagship.sort_fallback_tasks": ("plans.flagship.span_agg", "sort_fallback_tasks", 1),
    "tile_kernel.python_bytes_in": ("operators.tile_kernel", "python_bytes_in", 1),
    "tile_kernel.python_bytes_out": ("operators.tile_kernel", "python_bytes_out", 1),
    "tile_kernel.python_worker_s": ("operators.tile_kernel", "python_worker_ms", 1e-3),
    "dedupe.shuffle_write_bytes": ("operators.dedupe.", "shuffle_write_bytes", 1),
    "dedupe.python_worker_s": ("operators.dedupe.", "python_worker_ms", 1e-3),
    "dedupe.spill_bytes": ("operators.dedupe.", "spill_bytes", 1),
    "dedupe.peak_exec_mem_mb": ("operators.dedupe.", "peak_exec_mem", 1 / 2**20),
    "ann.shuffle_write_bytes": ("operators.ann.", "shuffle_write_bytes", 1),
    "ann.python_worker_s": ("operators.ann.", "python_worker_ms", 1e-3),
}

# whole untraced pass: metric → (counter, scale)
PASS_COUNTERS = {
    "spark.jobs": ("jobs", 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "spark.spill_bytes": ("spill_bytes", 1),
    "spark.python_bytes_sent": ("python_bytes_in", 1),
}

# share of the traced pass's wall time: metric → span-name prefixes
SHARES = {
    "share.span_side": ("plans.flagship.span_agg",),
    "share.tile_side": ("operators.tile_kernel", "operators.assign.range_partition",
                        "operators.checkpoint"),
    "share.dedupe": ("operators.dedupe.",),
}

# counts and rates the workloads set directly (Workload.layer)
DIRECT = (
    "flagship.spans", "flagship.refs", "tile_kernel.rows_in", "tile_kernel.rows_out",
    "decode.tiles_ok", "decode.tiles_error", "tiff.decode_MBps", "tiff.file_bytes_read",
    "cells.s2_ids_per_s", "cells.hex_ids_per_s", "pip.points", "pip.matches",
    "checkpoint.bytes_written", "checkpoint.files_written",
    "dedupe.pairs_out.ngram", "dedupe.pairs_out.minhash", "dedupe.pairs_out.simhash",
    "ann.recall_at_10.ivfpq", "ann.recall_at_10.pq", "ann.recall_at_10.lsh",
)
RUN_LEVEL = ("spark.gc_s", "trace.pass_s", "trace.overhead_s")


def per_layer_names() -> set[str]:
    """Every per-layer metric ``per_layer_metrics`` reports."""
    return {*SPAN_METRICS.values(), *SPAN_COUNTERS, *PASS_COUNTERS, *SHARES, *DIRECT,
            *RUN_LEVEL}


def declared_metrics(root: str) -> dict[str, dict[str, str]]:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} as
    BENCHMARK.json in ``root`` declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def as_metrics(vals: dict[str, float], units: dict[str, str]) -> dict:
    """``vals`` in the result schema, with the declared units; the name
    sets must be equal."""
    if vals.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(vals.keys() ^ units.keys())} "
                           "are not both measured and declared")
    return {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}


def _matches(name: str, prefixes) -> bool:
    """Exact span name, or any name under a prefix ending in '.'."""
    return any(name == x or (x.endswith(".") and name.startswith(x)) for x in prefixes)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer_metrics(tr, ev: dict, direct: dict, plain_s: list, traced_s: list,
                      gc_s_per_pass: float) -> dict[str, float]:
    vals: dict[str, float] = {}
    passes = sorted({s["pass"] for s in tr.spans if not s["pass"].startswith("probe")})
    own = tr.self_times()

    # self time per (name, pass); probe spans count as their own pass and
    # the probes' first round (one-time UDF set-up) is left out
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    wall: dict[str, float] = {}
    for i, s in enumerate(tr.spans):
        if s["pass"] == "probe-warm":
            continue
        per[s["name"]][s["pass"]] += own[i]
        if s["name"] == "pass":
            wall[s["pass"]] = s["end"] - s["start"]
    for span, metric in SPAN_METRICS.items():
        vals[metric] = _median(list(per[span].values()))

    # event-log counters summed per (span-name prefix, pass), median over
    # the passes (or probe round) in which the layer was called
    for metric, (prefix, counter, scale) in SPAN_COUNTERS.items():
        by_pass: dict[str, float] = {}
        for i, s in enumerate(tr.spans):
            if s["pass"] != "probe-warm" and _matches(s["name"], (prefix,)):
                tot = ev["span"].get(str(i), {})
                v = tot.get(counter, 0.0)
                old = by_pass.get(s["pass"], 0.0)
                by_pass[s["pass"]] = max(old, v) if counter == "peak_exec_mem" else old + v
        vals[metric] = _median(list(by_pass.values())) * scale

    traced = set(passes)
    plain = [tot for p, tot in ev["pass"].items() if p not in traced and p[:1] == "p"]
    for metric, (counter, scale) in PASS_COUNTERS.items():
        vals[metric] = _median([t[counter] for t in plain]) * scale

    for metric, prefixes in SHARES.items():
        shares = []
        for p in passes:
            covered = sum(t for name, pt in per.items() for pp, t in pt.items()
                          if pp == p and _matches(name, prefixes))
            shares.append(covered / wall[p] if wall.get(p) else 0.0)
        vals[metric] = _median(shares)

    for name in DIRECT:
        vals[name] = float(direct.get(name, 0.0))
    vals["spark.gc_s"] = gc_s_per_pass
    vals["trace.pass_s"] = _median(traced_s)
    vals["trace.overhead_s"] = _median(traced_s) - _median(plain_s)
    return vals
