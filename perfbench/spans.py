"""Timing spans around the public functions ``run_pipeline`` calls.

:func:`traced` patches, for the duration of a ``with`` block, the names
the production path resolves at call time — module globals of
``pipeline`` and methods of ``CheckpointStore`` / ``Observation`` — with
wrappers that record ``(layer, start, end)`` in epoch seconds, the
clock Spark's event log uses.  :func:`capturing` installs only the
argument capture of ``write_partitioned`` (no timing), which the count
ledger needs in untraced runs too.
"""

from __future__ import annotations

import contextlib
import functools
import time
from typing import List, Tuple

from pyspark.sql import Observation

from accelerated_intelligent_document_processing_on_aws_spark import pipeline
from accelerated_intelligent_document_processing_on_aws_spark.io.checkpoint import (
    CheckpointStore,
)

# layer of each wrapped call; ``pipeline`` spans are plan building and
# orchestration, which the ledger books under pipeline.other_s
PIPELINE_CALLS = {
    "extract_stage": "pipeline",
    "write_partitioned": "io.tables.write_s",
    "record_snapshot": "io.tables.write_s",
    "lineage_agg_rows": "io.checkpoint.lineage_s",
}
STORE_CALLS = {
    "committed_partitions": "io.checkpoint.resume_lookup_s",
    "append": "io.checkpoint.commit_s",
}


class Recorder:
    def __init__(self):
        self.spans: List[Tuple[str, float, float]] = []
        self.write_frames: list = []

    def wrap(self, fn, layer):
        @functools.wraps(fn)
        def inner(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.spans.append((layer, t0, time.time()))

        return inner

    def capture(self, fn):
        @functools.wraps(fn)
        def inner(df, *a, **kw):
            self.write_frames.append(df)
            return fn(df, *a, **kw)

        return inner


@contextlib.contextmanager
def _patched(targets):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for obj, name, new in targets:
            setattr(obj, name, new)
        yield
    finally:
        for obj, name, old in saved:
            setattr(obj, name, old)


@contextlib.contextmanager
def capturing(rec: Recorder):
    wp = pipeline.write_partitioned
    with _patched([(pipeline, "write_partitioned", rec.capture(wp))]):
        yield rec


@contextlib.contextmanager
def traced(rec: Recorder):
    targets = []
    for name, layer in PIPELINE_CALLS.items():
        fn = getattr(pipeline, name)
        if name == "write_partitioned":
            fn = rec.capture(fn)
        targets.append((pipeline, name, rec.wrap(fn, layer)))
    for name, layer in STORE_CALLS.items():
        targets.append(
            (CheckpointStore, name, rec.wrap(getattr(CheckpointStore, name), layer))
        )
    # the observe lineage path reads its metrics through Observation.get
    get = Observation.get
    targets.append(
        (
            Observation,
            "get",
            property(rec.wrap(get.fget, "io.checkpoint.lineage_s")),
        )
    )
    with _patched(targets):
        yield rec
