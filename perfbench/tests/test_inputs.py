import pandas as pd

from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
    gen_transcripts_pdf,
)
from perfbench.inputs import gen_seed, generate

SPEC = dict(n_convs=40, mean_turns=6, skew_convs=4, skew_factor=5)


def test_chunked_generation_equals_one_generator_call():
    pdf, oracle = generate(7, spec=SPEC, chunk=10, procs=2)
    ref = gen_transcripts_pdf(**SPEC, seed=gen_seed(7))
    pd.testing.assert_frame_equal(pdf, ref)
    assert oracle.num_rows == len(ref)


def test_seeds_share_no_conversation():
    a, _ = generate(42, spec=SPEC, chunk=10, procs=2)
    b, _ = generate(43, spec=SPEC, chunk=10, procs=2)
    assert not set(a["text"]) & set(b["text"])
