"""Suffix-array and winnowing substring-duplicate tests.

The file keeps its old name (it once also held the ANN and multimodal
tests, deleted with those operators) so the test ids stay stable."""

import numpy as np

from fastqdedup_spark.operators.suffix_array import (
    lcp_kasai,
    partition_repeated_substrings,
    substring_dup_pairs,
    suffix_array,
)


def test_suffix_array_known():
    s = np.frombuffer(b"banana", dtype=np.uint8)
    sa = suffix_array(s)
    assert sa.tolist() == [5, 3, 1, 0, 4, 2]
    lcp = lcp_kasai(s, sa)
    assert lcp.tolist() == [0, 1, 3, 0, 0, 2]


def test_partition_repeated_substrings(spark):
    shared = "x = compute_the_common_helper_function(alpha, beta, gamma); " * 3
    rows = [
        (0, "prefix zero " + shared + " suffix zero"),
        (1, "prefix one one " + shared + " tail one"),
        (2, "nothing in common here at all with the others truly"),
    ]
    df = spark.createDataFrame(rows, "id long, content_norm string").coalesce(1)
    got = partition_repeated_substrings(df, min_len=40).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)
    assert all(r.length >= 40 for r in got)


def test_winnowing_substring_pairs(spark):
    shared = "def shared_helper(a, b):\n    return normalize(a) + normalize(b)\n" * 4
    rows = [
        (0, "import os\n" + shared + "print('zero')"),
        (1, "import sys\n" + shared + "print('one')"),
        (2, "class Unrelated:\n    pass\n" * 10),
        (3, "other text entirely, no shared blocks at all " * 6),
    ]
    df = spark.createDataFrame(rows, "id long, content_norm string")
    got = substring_dup_pairs(df, k=25, w=40).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (0, 1) in pairs
    assert not any(2 in p or 3 in p for p in pairs)
