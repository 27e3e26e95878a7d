from perfbench.eventlog import OTHER, self_times, stage_layer


def _st(start, end, scopes=(), layer=None):
    return {"start": start, "end": end, "scopes": list(scopes), "layer": layer}


def test_sweep_sums_to_window_and_splits_overlaps():
    stages = [
        _st(1.0, 3.0, layer="operators.extract.s"),
        _st(2.0, 4.0, layer="operators.sectionize.s"),
    ]
    spans = [("io.tables.write_s", 0.5, 5.0), ("pipeline", 0.0, 0.5)]
    out = self_times((0.0, 6.0), stages, spans)
    assert abs(sum(out.values()) - 6.0) < 1e-9
    assert out["operators.extract.s"] == 1.5
    assert out["operators.sectionize.s"] == 1.5
    # 0.5-1.0 and 4.0-5.0: inside write_partitioned with no stage running
    assert out["io.tables.write_s"] == 1.5
    # 0-0.5 (a pipeline span) and 5-6 (nothing) are unattributed
    assert out[OTHER] == 1.5


def test_stage_layer_by_scope_then_span():
    spans = [("io.checkpoint.commit_s", 0.0, 10.0)]
    assert stage_layer(_st(1, 2, ["ArrowEvalPython", "Exchange"]), spans) == "operators.extract.s"
    assert stage_layer(_st(1, 2, ["Window"]), spans) == "operators.sectionize.s"
    assert stage_layer(_st(1, 2, ["WriteFiles"]), spans) == "io.checkpoint.commit_s"
    assert stage_layer(_st(11, 12, ["Exchange"]), spans) == OTHER
