"""The Spark driver process of one benchmark run.

``python3 -m perfbench.child <config.json>`` starts a ``local[2]`` session,
warms it with one cold job of the workload (the set-up) and untimed jobs
until the JVM has settled, runs the timed closed loop (one job at a time,
the next starting when the previous one ends) and writes a result JSON.
A traced run then repeats the loop with the timing spans patched in (the
event log is on for the whole session), followed by the prefix ladder and
the kernel profile.  Everything it produces for checking — job outputs,
the extract_stage materialization — stays on disk for the parent process
(``run.py``), which owns the oracle, so oracle and verification work never
runs in this process tree.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import statistics
import sys
import time
import zlib

import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark import get_spark, pipeline
from accelerated_intelligent_document_processing_on_aws_spark.io.tables import salted_bucket
from accelerated_intelligent_document_processing_on_aws_spark.kernels.extract import extract_turn
from accelerated_intelligent_document_processing_on_aws_spark.functions.text import turn_class_col
from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
    respan_with_text,
    with_extraction,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import sectionize
from accelerated_intelligent_document_processing_on_aws_spark.plans.inspect import (
    exchange_count,
    plan_of,
)

from perfbench.proctree import PeakRss, ProcTree
from perfbench.spans import Recorder, capturing, traced

MASTER = "local[2]"
SHUFFLE_PARTITIONS = 8
LOST_BUCKETS = 4
KERNEL_SAMPLE = 16  # kernel profile: turns whose crc32(conv_id:turn_idx) % 16 == 0
KERNEL_PASSES = 3
LADDER_PASSES = 2
SETTLE_S = 8.0
RSS_KEYS = (("", "rss_mb"), (".jvm", "rss_jvm"), (".python", "rss_python"))


def spread_exchanges(plan: str) -> int:
    """Exchanges keyed on the turn spread ``pmod(turn_idx, turn_spread)`` —
    the extraction spread ``extract_stage`` plans for under-split inputs."""
    return sum(
        1 for node in plan.split("\n\n")
        if re.match(r"\(\d+\) Exchange\b", node.strip()) and "pmod(turn_idx" in node
    )


class Session:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.work = cfg["work"]
        self.inp = cfg["input"]
        self.cp = pipeline.PipelineConfig()
        self.rec = Recorder()
        self.tree = ProcTree(os.getpid())
        self.resumed_turns = None
        self.lost = None

    def path(self, *parts):
        return os.path.join(self.work, *parts)

    # ---------------------------------------------------------------- setup
    def start(self):
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.cfg["trace"]:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
        )
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        self.warm_up()
        return start_s, time.perf_counter() - t0

    def warm_up(self):
        """One cold job of the workload on the full input.  For extract_noop
        it writes the extract_stage frame to parquet instead of the noop
        sink (the output the gate checks); for the durable workloads it is
        a finished run_pipeline, which resume_tail's killed-run state is cut
        from on first use."""
        if self.cfg["workload"] == "extract_noop":
            self.materialize_noop()
            return
        out, ck = self.path("warm_out"), self.path("warm_ckpt")
        pipeline.run_pipeline(self.spark, self.inp, out, ck, self.cp)
        if self.cfg["workload"] == "resume_tail" and not os.path.isfile(
            os.path.join(self.cfg["golden"], "state.json")
        ):
            self.cache_killed_state(out, ck)

    def cache_killed_state(self, out, ck):
        """Cache the killed-run state resume_tail restores before every job,
        cut the way tests/test_resume.py does it from a finished run: its
        output without LOST_BUCKETS pt dirs (kept whole here, the restore
        skips them) and its lineage rows for the other buckets."""
        golden = self.cfg["golden"]
        tmp = golden + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(out, os.path.join(tmp, "out"))
        lin = self.spark.read.parquet(ck)
        # lose buckets of typical size (closest to the median row count), so
        # the resumed work does not swing with whether a skew-tail
        # conversation hashed into a lost bucket
        counts = sorted((r.row_count, r.partition_id) for r in lin.collect() if r.row_count)
        median = counts[len(counts) // 2][0]
        lost = sorted(p for _, p in sorted(counts, key=lambda c: (abs(c[0] - median), c[1]))[:LOST_BUCKETS])
        lin.filter(~F.col("partition_id").isin(lost)).write.parquet(
            os.path.join(tmp, "killed_ckpt")
        )
        resumed = lin.filter(F.col("partition_id").isin(lost)).agg(F.sum("row_count"))
        with open(os.path.join(tmp, "state.json"), "w") as fh:
            json.dump({"lost": lost, "resumed_turns": int(resumed.collect()[0][0])}, fh)
        shutil.rmtree(golden, ignore_errors=True)
        os.replace(tmp, golden)

    def load_killed_state(self):
        with open(os.path.join(self.cfg["golden"], "state.json")) as fh:
            st = json.load(fh)
        self.lost, self.resumed_turns = st["lost"], st["resumed_turns"]

    # ----------------------------------------------------------------- jobs
    def noop_frame(self):
        return pipeline.extract_stage(self.spark.read.parquet(self.inp), self.cp)

    def noop_job(self):
        frame = self.noop_frame()
        frame.write.format("noop").mode("overwrite").save()
        return frame

    def prepare(self, name):
        """Untimed per-job set-up: fresh output/lineage dirs (restored from
        the killed-run template for resume_tail)."""
        w = self.cfg["workload"]
        if w == "extract_noop":
            return None
        out, ck = self.path(f"{name}_out"), self.path(f"{name}_ckpt")
        if w == "resume_tail":
            golden = self.cfg["golden"]
            lost = {f"pt={p}" for p in self.lost}
            os.makedirs(out)
            for name in os.listdir(os.path.join(golden, "out")):
                src, dst = os.path.join(golden, "out", name), os.path.join(out, name)
                if name in lost:
                    continue
                if name.startswith("pt="):
                    # hard links: the resuming run adds files and never
                    # rewrites a committed bucket's file in place
                    shutil.copytree(src, dst, copy_function=os.link)
                elif os.path.isdir(src):
                    shutil.copytree(src, dst)
                else:
                    shutil.copy(src, dst)
            shutil.copytree(os.path.join(golden, "killed_ckpt"), ck)
        return out, ck

    def run_job(self, dirs):
        if dirs is None:
            return self.noop_job()
        pipeline.run_pipeline(self.spark, self.inp, dirs[0], dirs[1], self.cp)
        return self.rec.write_frames[-1] if self.rec.write_frames else None

    def settle(self):
        """Untimed jobs of the workload after the cold one, for at least
        SETTLE_S seconds.  The JVM keeps compiling for several jobs after
        the first (job CPU falls by about 40 % over them), so the timed
        window starts once that has passed.  Returns (seconds, jobs)."""
        self.spark.sparkContext.setJobGroup("settle", "settle")
        spent, n = 0.0, 0
        while spent < SETTLE_S:
            dirs = self.prepare(f"settle{n}")
            t0 = time.perf_counter()
            self.run_job(dirs)
            spent += time.perf_counter() - t0
            n += 1
            for d in dirs or ():
                shutil.rmtree(d)
        return spent, n

    def job_counts(self, group):
        st = self.spark.sparkContext.statusTracker()
        stages = set()
        jobs = list(st.getJobIdsForGroup(group))
        for j in jobs:
            stages.update(st.getJobInfo(j).stageIds)
        ran = [st.getStageInfo(s) for s in stages]
        ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
        return {
            "pipeline.jobs": len(jobs),
            "pipeline.stages": len(ran),
            "pipeline.tasks": sum(s.numCompletedTasks for s in ran),
        }

    def timed_loop(self, prefix, seconds, sample_rss):
        sc = self.spark.sparkContext
        jobs, measured = [], 0.0
        turns = self.resumed_turns or self.cfg["turns"]
        i = 0
        while True:
            group = f"{prefix}{i}"
            dirs = self.prepare(group)
            sc.setJobGroup(group, group)
            c0 = self.tree.sample()
            e0, t0 = time.time(), time.perf_counter()
            err = None
            # the RSS sampler reads /proc every 50 ms on a driver thread, so
            # it runs only with the spans, never under the end-to-end timer
            rss = PeakRss(self.tree) if sample_rss else None
            with rss or contextlib.nullcontext():
                try:
                    frame = self.run_job(dirs)
                except Exception as exc:  # a failed job is counted, not fatal
                    err, frame = repr(exc), None
            wall = time.perf_counter() - t0
            e1 = time.time()
            c1 = self.tree.sample()
            sc.setJobGroup("untimed", "untimed")
            rec = {
                "group": group, "wall_s": wall, "epoch": [e0, e1],
                "turns": turns, "error": err,
                "cpu_s": c1["cpu"] - c0["cpu"],
                "python_cpu_s": c1["python"] - c0["python"],
                "out": dirs[0] if dirs else None,
                "ckpt": dirs[1] if dirs else None,
            }
            if rss is not None:
                rec.update({f"peak_rss_mb{sfx}": rss.peak[key] for sfx, key in RSS_KEYS})
            rec.update(self.job_counts(group))
            if frame is not None:
                plan = plan_of(frame)
                rec["pipeline.exchanges"] = exchange_count(plan)
                rec["pipeline.spread_exchange"] = spread_exchanges(plan)
            jobs.append(rec)
            measured += wall
            i += 1
            # the window closes at the job boundary nearest to `seconds`
            if measured + wall / 2 > seconds:
                return jobs

    # --------------------------------------------------------- untimed extras
    def materialize_noop(self):
        self.noop_frame().write.mode("overwrite").parquet(self.path("noop_out"))

    def ladder(self):
        """Cumulative plan prefixes on the workload's scan: scan -> +extraction
        -> +classify -> +sectionize -> +respan, one noop job per rung and
        pass; the rungs interleave over LADDER_PASSES and each keeps its
        fastest pass."""
        df = self.spark.read.parquet(self.inp)
        if self.lost:
            df = df.filter(salted_bucket(F.col("conv_id"), self.cp.n_buckets, self.cp.salt).isin(self.lost))
        r = df.withColumn("pt", salted_bucket(F.col("conv_id"), self.cp.n_buckets, self.cp.salt))
        rungs = {}
        for name, step in [
            ("scan", lambda d: d),
            ("extract", with_extraction),
            ("classify", lambda d: d.withColumn("turn_class", turn_class_col(F.col("extracted_text")))),
            ("sectionize", sectionize),
            ("respan", respan_with_text),
        ]:
            r = step(r)
            rungs[name] = r
        best = {}
        for _ in range(LADDER_PASSES):
            for name, frame in rungs.items():
                self.spark.sparkContext.setJobGroup(f"ladder-{name}", name)
                t0 = time.perf_counter()
                frame.write.format("noop").mode("overwrite").save()
                best[name] = min(best.get(name, float("inf")), time.perf_counter() - t0)
        return best

    def kernel_profile(self):
        """Single-thread ``extract_turn`` time per payload kind on a
        deterministic hash sample of the input turns (median of passes)."""
        t = pq.read_table(self.inp, columns=["conv_id", "turn_idx", "text"]).to_pydict()
        sample = [
            x for c, i, x in zip(t["conv_id"], t["turn_idx"], t["text"])
            if zlib.crc32(f"{c}:{i}".encode()) % KERNEL_SAMPLE == 0
        ]
        kinds = []
        for x in sample:
            k = extract_turn(x)[2]
            kinds.append("mixed" if len(k) > 1 else (k[0] if k else "plain"))
        passes = []
        for _ in range(KERNEL_PASSES):
            tot = {}
            for x, k in zip(sample, kinds):
                t0 = time.perf_counter()
                extract_turn(x)
                tot[k] = tot.get(k, 0.0) + time.perf_counter() - t0
            passes.append(tot)
        out = {"n": len(sample), "by_kind": {}}
        for k in sorted(set(kinds)):
            n = kinds.count(k)
            out["by_kind"][k] = statistics.median(p[k] for p in passes) * 1e6 / n
        out["all"] = statistics.median(sum(p.values()) for p in passes) * 1e6 / len(sample)
        return out

    def stop(self):
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(60)


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    s = Session(cfg)
    start_s, warmup_s = s.start()
    if cfg["workload"] == "resume_tail":
        s.load_killed_state()
    settle_s, settle_jobs = s.settle()
    res = {"start_s": start_s, "warmup_s": warmup_s, "settle_s": settle_s, "settle_jobs": settle_jobs}
    rec = s.rec
    # a traced run splits --seconds between untraced jobs and traced ones
    seconds = cfg["seconds"] / (1 + cfg["trace"])
    with capturing(rec):
        res["jobs"] = s.timed_loop("job", seconds, sample_rss=False)
    if cfg["trace"]:
        with traced(rec):
            res["traced_jobs"] = s.timed_loop("trace", seconds, sample_rss=True)
    res["spans"] = rec.spans
    res["lost"] = s.lost
    if cfg["materialize_noop"]:
        if cfg["workload"] != "extract_noop":  # extract_noop's warm-up wrote it
            s.materialize_noop()
        res["noop_out"] = s.path("noop_out")
    if cfg["trace"]:
        res["ladder"] = s.ladder()
        res["kernels"] = s.kernel_profile()
    s.stop()
    with open(cfg["result"] + ".tmp", "w") as fh:
        json.dump(res, fh)
    os.replace(cfg["result"] + ".tmp", cfg["result"])


if __name__ == "__main__":
    main(sys.argv[1])
