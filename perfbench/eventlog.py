"""Spark event log -> per-layer self times and stage counters.

Each completed stage is given to a layer by the operators in its RDD
scopes (``ArrowEvalPython`` -> ``operators.extract``, ``Window`` ->
``operators.sectionize``); any other stage belongs to the layer of the
benchmark span it ran under (``write_partitioned`` -> ``io.tables``,
``CheckpointStore.append`` -> ``io.checkpoint`` ...), or else to the
pipeline's orchestration.

:func:`self_times` then sweeps a job's wall-clock window: each instant
goes to the running stages' layers (split evenly when stages overlap),
else to the innermost running span's layer, else to ``pipeline.other_s``.
By construction the self times sum to the job's wall; ``pipeline.other_s``
is the share no layer claims.
"""

from __future__ import annotations

import json
from collections import defaultdict
from typing import Dict, List, Tuple

OTHER = "pipeline.other_s"
EXTRACT = "operators.extract.s"
SECTIONIZE = "operators.sectionize.s"
SELF_TIMES = (
    EXTRACT,
    SECTIONIZE,
    "io.tables.write_s",
    "io.checkpoint.lineage_s",
    "io.checkpoint.commit_s",
    "io.checkpoint.resume_lookup_s",
    OTHER,
)


def parse(path: str) -> Dict[int, dict]:
    """Completed stages: times (s), scopes, job group, summed task metrics
    and SQL accumulables."""
    stages: Dict[int, dict] = {}
    groups: Dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                groups[sid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(sid, _empty())
                st["start"] = si["Submission Time"] / 1000
                st["end"] = si["Completion Time"] / 1000
                st["scopes"] = sorted(
                    {json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")}
                )
                for a in si.get("Accumulables", []):
                    try:
                        st["acc"][a["Name"]] += float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif ev == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _empty())
                st["tasks"] += 1
                if e["Task Info"].get("Failed"):
                    st["failed_tasks"] += 1
                m = e.get("Task Metrics") or {}
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                rd = m.get("Shuffle Read Metrics") or {}
                st["fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1000
                st["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
    for sid, st in stages.items():
        st["group"] = groups.get(sid)
    return {k: v for k, v in stages.items() if "start" in v}


def _empty() -> dict:
    return {
        "acc": defaultdict(float), "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
        "gc_s": 0.0, "spill_mb": 0.0, "fetch_wait_s": 0.0, "shuffle_read_mb": 0.0,
    }


def _innermost(spans, t):
    best = None
    for layer, s0, s1 in spans:
        if s0 <= t < s1 and (best is None or s0 >= best[1]):
            best = (layer, s0)
    return best[0] if best else None


def stage_layer(st: dict, spans) -> str:
    if "ArrowEvalPython" in st["scopes"]:
        return EXTRACT
    if "Window" in st["scopes"]:
        return SECTIONIZE
    layer = _innermost(spans, st["start"])
    return layer if layer in SELF_TIMES else OTHER


def self_times(window: Tuple[float, float], stages: List[dict], spans) -> Dict[str, float]:
    """Sweep ``window`` (epoch s); ``stages`` carry a ``layer``."""
    w0, w1 = window
    cuts = {w0, w1}
    for st in stages:
        cuts.update(x for x in (st["start"], st["end"]) if w0 < x < w1)
    for _, s0, s1 in spans:
        cuts.update(x for x in (s0, s1) if w0 < x < w1)
    cuts = sorted(cuts)
    out = dict.fromkeys(SELF_TIMES, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        running = [st["layer"] for st in stages if st["start"] <= mid < st["end"]]
        if running:
            for layer in running:
                out[layer] += (b - a) / len(running)
            continue
        layer = _innermost(spans, mid)
        out[layer if layer in SELF_TIMES else OTHER] += b - a
    return out


def job_layers(stages: Dict[int, dict], job: dict, spans) -> dict:
    """Per-layer metrics of one timed job (all stages of its job group)."""
    mine = [st for st in stages.values() if st["group"] == job["group"]]
    for st in mine:
        st["layer"] = stage_layer(st, spans)
    inside = [s for s in spans if s[2] > job["epoch"][0] and s[1] < job["epoch"][1]]
    out = self_times(tuple(job["epoch"]), mine, inside)

    def total(key, layer=None):
        return sum(st[key] for st in mine if layer is None or st["layer"] == layer)

    ext = [st for st in mine if st["layer"] == EXTRACT]
    out.update(
        {
            "operators.extract.jvm_cpu_s": total("cpu_s", EXTRACT),
            "operators.extract.py_in_mb": sum(st["acc"]["data sent to Python workers"] for st in ext) / 2**20,
            "operators.extract.py_out_mb": sum(st["acc"]["data returned from Python workers"] for st in ext) / 2**20,
            "operators.sectionize.shuffle_mb": total("shuffle_read_mb", SECTIONIZE),
            "io.tables.write_shuffle_mb": total("shuffle_read_mb", "io.tables.write_s"),
            "spark.executor_cpu_s": total("cpu_s"),
            "spark.shuffle_fetch_wait_s": total("fetch_wait_s"),
            "spark.spill_mb": total("spill_mb"),
            "spark.gc_s": total("gc_s"),
            "spark.failed_tasks": total("failed_tasks"),
        }
    )
    return out
