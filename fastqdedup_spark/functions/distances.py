"""Bounded distance predicates.

Re-implements the semantics of the reference's C kernels
(/root/reference/src/fastqdedup/distances.h:8-31 Hamming with fast-fail,
:33-88 bounded Levenshtein with length-difference prune) as pure-Python
scalar kernels. The oracle calls them, and so does the dissection pandas
UDF through the oracle's dissection functions. Pair verification on
DataFrames does not: it is the Catalyst predicate
`operators.verify.within_distance_column`, which
tests/test_verify_distance.py holds equal to `within_distance`.

Semantics pinned by the reference tests
(/root/reference/tests/test__distance.py):
- Hamming is defined ONLY for equal lengths; unequal lengths are never
  "within distance" (distances.h:16-20).
- Levenshtein is the bounded banded variant: True iff edit distance
  <= max_distance.

Implementation is deliberately different from the reference: the
reference uses a recursive branch-and-bound; we use an iterative banded
dynamic program (Ukkonen band of width 2d+1), O(n*d) per pair, with an
early exit once the whole band exceeds the budget.
"""

from __future__ import annotations


def within_hamming_distance(s1: str, s2: str, max_distance: int) -> bool:
    """True iff equal length and substitution count <= max_distance."""
    if len(s1) != len(s2):
        return False
    if s1 == s2:
        return True
    budget = max_distance
    for a, b in zip(s1, s2):
        if a != b:
            budget -= 1
            if budget < 0:
                return False
    return True


def within_edit_distance(s1: str, s2: str, max_distance: int) -> bool:
    """True iff Levenshtein(s1, s2) <= max_distance (banded DP)."""
    n, m = len(s1), len(s2)
    if abs(n - m) > max_distance:
        return False
    if s1 == s2:
        return True
    if max_distance <= 0:
        return False
    # Ukkonen band: only cells |i - j| <= max_distance matter.
    d = max_distance
    big = d + 1
    prev = list(range(m + 1))  # row 0: j inserts
    for i in range(1, n + 1):
        lo = max(1, i - d)
        hi = min(m, i + d)
        cur = [big] * (m + 1)
        cur[0] = i if i <= d else big
        c1 = s1[i - 1]
        for j in range(lo, hi + 1):
            cost = 0 if c1 == s2[j - 1] else 1
            v = prev[j - 1] + cost
            if prev[j] + 1 < v:
                v = prev[j] + 1
            if cur[j - 1] + 1 < v:
                v = cur[j - 1] + 1
            cur[j] = v if v <= d else big
        if min(cur[lo - 1 : hi + 1]) > d:
            return False  # whole band exceeded the budget: early exit
        prev = cur
    return prev[m] <= d


def within_distance(
    s1: str, s2: str, max_distance: int = 1, use_edit_distance: bool = False
) -> bool:
    """Scalar predicate matching the reference's `within_distance`
    (/root/reference/src/fastqdedup/_distancemodule.c:46-93)."""
    if use_edit_distance:
        return within_edit_distance(s1, s2, max_distance)
    return within_hamming_distance(s1, s2, max_distance)
