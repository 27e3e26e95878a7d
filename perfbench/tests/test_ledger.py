"""The count ledger repeats exactly: across the jobs of one run and across
two runs of the same seed.  Each case starts Spark twice (~2 min)."""

import json
import os
import subprocess
import sys

import pytest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def _ledger(workload):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seconds", "1"],
        capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, p.stdout + p.stderr[-3000:]
    assert json.loads(lines[-1])["correct"] is True
    return [" ".join(ln.split()[2:]) for ln in lines if ln.startswith("  ledger ")]


@pytest.mark.parametrize("workload", ["extract_noop", "pipeline_fresh", "resume_tail"])
def test_ledger_repeats_exactly(workload):
    a, b = _ledger(workload), _ledger(workload)
    assert a and len(set(a + b)) == 1, (a, b)
