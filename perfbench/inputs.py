"""Workload input: the flagship transcripts base, landed as parquet, plus
its pure-Python oracle, both cached per seed under ``.perfbench_cache``.

The table is exactly ``gen_transcripts_pdf(n_convs=2000, mean_turns=24,
skew_convs=4, skew_factor=40, seed=gen_seed(seed))`` — the flagship kind
mix with its 4-conversation x40 skew tail (~51k turns).  It is generated
in conversation chunks on a few processes: conversation ``i`` of the
generator draws from ``RandomState(gen_seed + 1000 + i)``, so chunk ``j``
is ``gen_transcripts_pdf(n_convs=CHUNK, seed=gen_seed + CHUNK * j)`` with
conversation ids and timestamps shifted back to their global position,
and the generator's final row shuffle is applied to the union
(``tests/test_inputs.py`` pins the equality).

The oracle is ``kernels.extract.extract_turn`` applied to every turn:
``extracted_text``, the 5-field ``spans``, ``payload_kinds`` and
``is_boundary`` keyed by ``(conv_id, turn_idx)``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FLAGSHIP = dict(n_convs=2000, mean_turns=24, skew_convs=4, skew_factor=40)
CHUNK = 500
N_FILES = 16
GOLDEN_SEED = 42

INPUT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("span_id", pa.int32()),
            ("kind", pa.string()),
            ("start", pa.int32()),
            ("end", pa.int32()),
            ("text", pa.string()),
        ]
    )
)
ORACLE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("extracted_text", pa.string()),
        ("spans", SPAN_TYPE),
        ("payload_kinds", pa.list_(pa.string())),
        ("is_boundary", pa.bool_()),
    ]
)


def gen_seed(seed: int) -> int:
    """Generator seed for a workload seed.  Seed 42 is the golden flagship
    base; other seeds step by a whole conversation range (2000 x the
    per-conversation RandomState offset) so no two seeds share a
    conversation."""
    return GOLDEN_SEED + ((seed - GOLDEN_SEED) % 10**6) * 2000


def _chunk(args):
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        gen_transcripts_pdf,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_turn,
    )

    base_seed, j, chunk, spec = args
    pdf = gen_transcripts_pdf(
        n_convs=chunk,
        seed=base_seed + chunk * j,
        mean_turns=spec["mean_turns"],
        skew_convs=max(0, min(chunk, spec["skew_convs"] - chunk * j)),
        skew_factor=spec["skew_factor"],
        shuffle=False,
    )
    local = pdf["conv_id"].str.slice(5).astype(int)
    pdf["conv_id"] = [f"conv-{i + chunk * j:06d}" for i in local]
    pdf["ts"] = pdf["ts"] + pd.to_timedelta(chunk * j, unit="D")
    oracle = {k: [] for k in ORACLE_SCHEMA.names}
    for cid, tix, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        et, spans, kinds, bound = extract_turn(text)
        oracle["conv_id"].append(cid)
        oracle["turn_idx"].append(int(tix))
        oracle["extracted_text"].append(et)
        oracle["spans"].append(
            [
                {"span_id": s[0], "kind": s[1], "start": s[2], "end": s[3], "text": s[4]}
                for s in spans
            ]
        )
        oracle["payload_kinds"].append(list(kinds))
        oracle["is_boundary"].append(bool(bound))
    return pdf, pa.Table.from_pydict(oracle, schema=ORACLE_SCHEMA)


def generate(seed: int, spec: dict = FLAGSHIP, chunk: int = CHUNK, procs: int = 4):
    """(input DataFrame in generator row order, oracle Table)."""
    if spec["n_convs"] % chunk:
        raise ValueError("n_convs must be a multiple of the chunk size")
    base = gen_seed(seed)
    jobs = [(base, j, chunk, spec) for j in range(spec["n_convs"] // chunk)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=procs, mp_context=ctx) as ex:
        parts = list(ex.map(_chunk, jobs))
    pdf = pd.concat([p for p, _ in parts], ignore_index=True)
    perm = np.random.RandomState(base).permutation(len(pdf))
    pdf = pdf.iloc[perm].reset_index(drop=True)
    return pdf, pa.concat_tables([o for _, o in parts])


def ensure(cache_root: str, seed: int) -> dict:
    """Generate the input once per seed; return its metadata (``turns``,
    ``spans``, ``input_bytes``) and cache paths: ``input`` (parquet dir),
    ``oracle`` (parquet file), and where the finished run resume_tail cuts
    its killed-run state from (``golden``) and the extract_noop section set
    (``noop_sections``) are cached."""
    d = os.path.join(cache_root, f"flagship-seed{seed}")
    paths = {
        "input": os.path.join(d, "input"),
        "oracle": os.path.join(d, "oracle.parquet"),
        "golden": os.path.join(d, "golden"),
        "noop_sections": os.path.join(d, "noop_sections.parquet"),
    }
    meta_path = os.path.join(d, "meta.json")
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            return {**json.load(fh), **paths}
    shutil.rmtree(d, ignore_errors=True)
    inp = paths["input"]
    os.makedirs(inp)
    pdf, oracle = generate(seed, procs=min(4, os.cpu_count() or 1))
    n = len(pdf)
    for i in range(N_FILES):
        part = pdf.iloc[i * n // N_FILES:(i + 1) * n // N_FILES]
        pq.write_table(
            pa.Table.from_pandas(part, schema=INPUT_SCHEMA, preserve_index=False),
            os.path.join(inp, f"part-{i:05d}.parquet"),
        )
    pq.write_table(oracle, paths["oracle"])
    meta = {
        "seed": seed,
        "turns": n,
        "spans": int(pc.sum(pc.list_value_length(oracle["spans"])).as_py()),
        "input_bytes": sum(
            os.path.getsize(os.path.join(inp, f)) for f in os.listdir(inp)
        ),
    }
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return {**meta, **paths}
