"""Layer-ledger benchmark of the production path.

    python3 perfbench/run.py --workload {extract_noop,pipeline_fresh,resume_tail}
                             [--seed 42] [--seconds 20] [--trace 0|1]

Run from the repository root.  Inputs come from ``--seed`` and are cached
under ``.perfbench_cache``; scratch lives under ``.perfbench_work`` and is
removed at exit.  The Spark work runs in a child process (``child.py``);
this process owns the oracle and checks every output after the child is
done, so verification never shares the measured process tree.  A traced
run times untraced jobs and then traced ones in the same Spark session.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  Any mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "accelerated_intelligent_document_processing_on_aws_spark"
WORKLOADS = ("extract_noop", "pipeline_fresh", "resume_tail")
BUDGET_S = 175  # the whole invocation, the Spark run included
DRIVER_MEM = "2g"

KINDS = ("html", "mixed", "plain", "ocr_blocks", "pdfish")
LEDGER = (
    "pipeline.exchanges", "pipeline.spread_exchange", "pipeline.jobs",
    "pipeline.stages", "pipeline.tasks", "io.tables.files",
)


def run_child(work: str, cfg: dict, deadline: float) -> dict:
    """The Spark run in a child process; returns its result JSON."""
    from perfbench import proctree

    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cfg = {**cfg, "work": work, "result": os.path.join(work, "result.json")}
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "IDP_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", cfg_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the child's JVM and Python workers end with it, or are made to
            proctree.stop_descendants()
    if proc.returncode != 0 or not os.path.isfile(cfg["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"benchmark pass failed (exit {proc.returncode}):\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def verify_run(res: dict, workload: str, meta: dict, oracle, ref_sections):
    """Mark each job ok or failed.  Returns the extract_stage section set:
    the one passed in, else this pass's extract_stage output once its rows
    match the oracle."""
    from perfbench import verify

    noop_bad = 0
    if res.get("noop_out"):
        out = verify.read_output(res["noop_out"])
        noop_bad = verify.bad_rows(out, oracle)
        if noop_bad:
            print(f"MISMATCH extract_stage output: {noop_bad} rows differ from the oracle")
        elif ref_sections is None:
            ref_sections = verify.sections(out)
    for j in res["jobs"] + res.get("traced_jobs", []):
        errs = [j["error"]] if j["error"] else []
        if workload == "extract_noop":
            # the noop sink keeps nothing: its plan's output is the one checked above
            if noop_bad:
                errs.append("extract_stage output differs from the oracle")
        elif not errs:
            out = verify.read_output(j["out"])
            bad = verify.bad_rows(out, oracle)
            if bad:
                errs.append(f"{bad} rows differ from the oracle")
            if ref_sections is None or not verify.sections(out).equals(ref_sections):
                errs.append("(conv_id, turn_idx, section_id) set differs from extract_noop's")
            errs += verify.lineage_errors(
                j["ckpt"], 64, meta["turns"], meta["spans"], res["lost"]
            )
            files = verify.data_files(j["out"], res["lost"])
            j["io.tables.files"] = len(files)
            j["out_bytes"] = sum(os.path.getsize(f) for f in files)
        for e in errs:
            print(f"MISMATCH {j['group']}: {e}")
        j["ok"] = not errs
    return ref_sections


def e2e_metrics(res: dict) -> dict:
    ok = [j for j in res["jobs"] if j["ok"]] or res["jobs"]
    med = statistics.median
    return {
        "setup_s": res["start_s"] + res["warmup_s"],
        "turns_per_s": med(j["turns"] / j["wall_s"] for j in ok),
        "job_s": med(j["wall_s"] for j in ok),
        "cpu_s_per_mturn": med(j["cpu_s"] / (j["turns"] / 1e6) for j in ok),
    }


def layer_metrics(res: dict, meta: dict) -> dict:
    from perfbench import eventlog

    logs = os.listdir(os.path.join(res["work"], "eventlog"))
    stages = eventlog.parse(os.path.join(res["work"], "eventlog", logs[0]))
    spans = [tuple(s) for s in res["spans"]]
    k = res["kernels"]
    rows = []
    for j in res["traced_jobs"]:
        lay = eventlog.job_layers(stages, j, spans)
        ext_cpu = lay.pop("operators.extract.jvm_cpu_s") + j["python_cpu_s"]
        lay.update(
            {
                "operators.extract.cpu_s": ext_cpu,
                "operators.extract.boundary_cpu_s": ext_cpu - k["all"] * j["turns"] / 1e6,
                "spark.python_cpu_s": j["python_cpu_s"],
                "trace.job_s": j["wall_s"],
                "trace.unattributed_share": lay[eventlog.OTHER] / j["wall_s"],
                "io.tables.out_mb": j.get("out_bytes", 0) / 2**20,
                # bytes committed per input byte the job read
                "io.tables.out_bytes_ratio": j.get("out_bytes", 0)
                / (meta["input_bytes"] * j["turns"] / meta["turns"]),
            }
        )
        lay.update({c: j.get(c, 0) for c in LEDGER})
        lay.update({k: j[k] for k in ("peak_rss_mb", "peak_rss_mb.jvm", "peak_rss_mb.python")})
        rows.append(lay)
        print(
            f"layer-sum {j['group']}: layers + pipeline.other_s = "
            f"{sum(lay[x] for x in eventlog.SELF_TIMES):.3f} s of job_s {j['wall_s']:.3f} s; "
            f"unattributed share {lay['trace.unattributed_share']:.3f}"
        )
    out = {key: statistics.median(r[key] for r in rows) for key in rows[0]}
    lad = res["ladder"]
    out.update(
        {
            "kernels.us_per_turn": k["all"],
            **{f"kernels.us_per_turn.{kind}": k["by_kind"].get(kind, 0.0) for kind in KINDS},
            "pipeline.scan_s": lad["scan"],
            "functions.text.classify_s": lad["classify"] - lad["extract"],
            "operators.extract.respan_s": lad["respan"] - lad["sectionize"],
            "session.start_s": res["start_s"],
            "session.warmup_s": res["warmup_s"],
            "trace.overhead_s": out["trace.job_s"] - statistics.median(
                j["wall_s"] for j in res["jobs"]
            ),
        }
    )
    return out


def declared(section: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import proctree

    # every way out, a SIGTERM included, stops and reaps all the processes
    # the run started (input generation, Spark driver, JVM, Python workers)
    proctree.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(args, t_start)
    finally:
        proctree.stop_descendants()


def measure(args, t_start: float) -> int:
    from perfbench import inputs, verify

    phases = {}
    meta = inputs.ensure(os.path.join(ROOT, ".perfbench_cache"), args.seed)
    phases["inputs"] = time.time() - t_start
    oracle = verify.load_oracle(meta["oracle"])
    sections_path = meta["noop_sections"]
    ref_sections = (
        verify.load_sections(sections_path) if os.path.isfile(sections_path) else None
    )
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    cfg = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "input": meta["input"], "golden": meta["golden"], "turns": meta["turns"],
        "materialize_noop": args.workload == "extract_noop" or ref_sections is None,
    }
    try:
        t0 = time.time()
        res = run_child(work, cfg, t_start + BUDGET_S)
        res["work"] = work
        t1 = time.time()
        phases["spark"] = t1 - t0
        ref_sections = verify_run(res, args.workload, meta, oracle, ref_sections)
        phases["verify"] = time.time() - t1
        if ref_sections is not None and not os.path.isfile(sections_path):
            pq.write_table(ref_sections, sections_path + ".tmp")
            os.replace(sections_path + ".tmp", sections_path)
        jobs = res["jobs"] + res.get("traced_jobs", [])
        failed = sum(not j["ok"] for j in jobs)
        e2e = e2e_metrics(res)
        print(f"workload {args.workload}  seed {args.seed}  turns {meta['turns']}  "
              f"jobs {len(res['jobs'])}  input {meta['input_bytes'] / 2**20:.1f} MB")
        print(f"  settle {res['settle_s']:.1f} s ({res['settle_jobs']} jobs)  phases "
              + " ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
        e2e_units = declared("end_to_end")
        for name, unit in e2e_units.items():
            print(f"  {name:<16} {e2e[name]:>12.4f} {unit}")
        print(f"  {'error_rate':<16} {failed / len(jobs):>12.4f} failed/attempted")
        print("  job walls " + " ".join(f"{j['wall_s']:.3f}" for j in res["jobs"])
              + "  cpu " + " ".join(f"{j['cpu_s']:.2f}" for j in res["jobs"])
              + "  python cpu " + " ".join(f"{j['python_cpu_s']:.2f}" for j in res["jobs"]))
        for j in jobs:
            print("  ledger " + j["group"] + " " + " ".join(
                f"{c}={j.get(c, 0)}" for c in LEDGER))
        if args.trace:
            lay = layer_metrics(res, meta)
            for name in sorted(lay):
                print(f"  {name:<40} {lay[name]:>12.4f}")
            metrics = {
                k: {"value": lay[k], "unit": u} for k, u in declared("per_layer").items()
            }
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        print(json.dumps({
            "correct": failed == 0, "attempted": len(jobs), "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
