"""The parity verify predicate (operators.verify.within_distance_column,
a Catalyst expression) equals the scalar kernel
functions.distances.within_distance that the oracle uses, in both modes
and at radii 0-3: on every pair of strings of length 0-4 over a
two-letter alphabet (empty and unequal-length pairs included) and on
the golden cases of test_distances.py, both ways round."""

import itertools

from fastqdedup_spark.functions.distances import within_distance
from fastqdedup_spark.operators.verify import within_distance_column

from test_distances import EDIT_CASES, HAMMING_CASES

SHORT = [
    "".join(p) for n in range(0, 5) for p in itertools.product("AB", repeat=n)
]


def test_predicate_equals_scalar_kernel(spark):
    pairs = set(itertools.product(SHORT, SHORT))
    pairs |= {(a, b) for a, b, _, _ in HAMMING_CASES + EDIT_CASES}
    pairs |= {(b, a) for a, b in pairs}
    df = spark.createDataFrame(sorted(pairs), "a string, b string")
    radii = range(0, 4)
    modes = (False, True)
    got = df.select(
        "a", "b",
        *[
            within_distance_column("a", "b", d, edit).alias(f"w_{int(edit)}_{d}")
            for edit in modes for d in radii
        ],
    ).collect()
    assert len(got) == len(pairs) > 31 * 31
    mismatches = [
        (r["a"], r["b"], d, edit)
        for r in got for edit in modes for d in radii
        if r[f"w_{int(edit)}_{d}"] != within_distance(r["a"], r["b"], d, edit)
    ]
    assert mismatches == []

