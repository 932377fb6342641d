"""verify_pairs_jaccard keeps exactly the pairs whose exact shingle
Jaccard clears the threshold, with the exact value, on both of its
plans: fanned out to the Arrow-stage task count (unknown row count) and
run in place (a known count below one task's worth).

The corpus is a hub clique (41 near-identical documents) plus 10
unrelated ones, all pairs submitted: the hub's pairs share documents
across tasks, which is what the per-task shingle cache and the
(id_a, 4-way id_b salt) keying are for."""

import pytest

from fastqdedup_spark.config import PYTHON_STAGE_MIN_ROWS_PER_TASK, DedupConfig
from fastqdedup_spark.functions.minhash import shingle_set
from fastqdedup_spark.operators.verify import verify_pairs_jaccard
from fastqdedup_spark.plans import formatted_plan

CFG = DedupConfig(shingle_k=5, jaccard_threshold=0.5)


def _docs():
    base = "def handler(request): return process(request.payload, retries=3) # "
    docs = [(0, base + "hub canonical version of the shared utility body")]
    for i in range(1, 41):
        docs.append((i, base + f"hub canonical version of the shared utility body v{i % 3}"))
    for i in range(100, 110):
        docs.append((i, f"completely unrelated document number {i} with its own words {i * 7}"))
    return docs


def _reference(docs) -> list:
    """(id_a, id_b, jaccard) for every a < b pair at or above the
    threshold, from Python shingle sets."""
    sets = {i: shingle_set(text, CFG.shingle_k) for i, text in docs}
    out = []
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= CFG.jaccard_threshold:
                    out.append((a, b, j))
    return sorted(out)


@pytest.mark.parametrize(
    "approx_rows, fan_outs",
    [(None, 1), (PYTHON_STAGE_MIN_ROWS_PER_TASK - 1, 0)],
    ids=["fan_out", "no_fan_out"],
)
def test_verify_matches_python_reference(spark, approx_rows, fan_outs):
    docs = _docs()
    corpus = spark.createDataFrame(docs, "id long, content_norm string")
    ids = [i for i, _ in docs]
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    out = verify_pairs_jaccard(
        pairs, corpus, CFG, id_col="id", approx_rows=approx_rows
    )
    assert formatted_plan(out).count("REPARTITION_BY_NUM") == fan_outs
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in out.collect())
    want = _reference(docs)
    assert len(want) > 40  # the hub clique actually verified
    assert got == want


def test_verify_empty_pairs(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "id long, content_norm string"
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert verify_pairs_jaccard(pairs, corpus, CFG, id_col="id").count() == 0
