"""Cross-engine kernel equality: the portable (SQL-replicable) hash
kernels in functions/portable.py must produce bit-identical values to
their DuckDB SQL twins (used by the q15/q16 oracles in test_oracle_sql.py)."""

import duckdb
import numpy as np
import pytest

from fastqdedup_spark.functions.portable import (
    P,
    portable_simhash_batch,
    portable_token_hashes,
    portable_window_hashes,
)

TEXTS = [
    "Hello  world hello",
    "the quick brown fox jumps over the lazy dog",
    "",
    "éçü accented tökens",
    "one",
    "a  b\tc\nd",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "create table d as select * from (values "
        + ",".join(f"({i}, ?)" for i in range(len(TEXTS)))
        + ") t(id, text)",
        TEXTS,
    )
    return c


def test_simhash_matches_sql(con):
    sql = """
    WITH toks AS (
      SELECT id, unnest(list_filter(string_split(
          trim(regexp_replace(lower(text),'\\s+',' ','g')),' '), t -> t != '')) AS tok
      FROM d
    ), th AS (
      SELECT id, list_reduce(list_prepend(7::BIGINT,
          list_transform(range(1, length(tok)+1), i -> unicode(substr(tok,i,1))::BIGINT)),
          (h, c) -> (h*127 + c) % 2147483647) AS h
      FROM toks
    ), bits AS (
      SELECT id, j, sum(CASE WHEN ((h*(2*j+3) + 5*j+1) % 2147483647) % 2 = 1
                        THEN 1 ELSE -1 END) AS s
      FROM th, unnest(range(0, 64)) t(j) GROUP BY id, j
    ), sig AS (
      SELECT id, sum(CASE WHEN s > 0 THEN 1::HUGEINT << j ELSE 0 END) AS u
      FROM bits GROUP BY id
    )
    SELECT id, cast(u - CASE WHEN u >= 9223372036854775808
        THEN 18446744073709551616 ELSE 0 END AS BIGINT) FROM sig
    """
    duck = dict(con.sql(sql).fetchall())
    mine = portable_simhash_batch(TEXTS)
    for i in range(len(TEXTS)):
        assert int(mine[i]) == duck.get(i, 0), TEXTS[i]


def test_window_hashes_match_sql(con):
    k = 5
    H, starts, counts = portable_window_hashes([t.lower() for t in TEXTS], k)
    rows = con.sql(f"""
        SELECT id, i, list_reduce(list_prepend(7::BIGINT,
            list_transform(range(0, {k}), j -> unicode(substr(lower(text), i+j, 1))::BIGINT)),
            (h, c) -> (h*127 + c) % 2147483647)
        FROM d, unnest(range(1, length(text) - {k} + 2)) t(i)
    """).fetchall()
    assert rows  # at least the long texts produce grams
    for i, pos, h in rows:
        assert int(H[starts[i] + pos - 1]) == h
    # per-row gram counts agree with SQL's range
    from collections import Counter

    ngrams = Counter(i for i, _, _ in rows)
    for i, t in enumerate(TEXTS):
        assert counts[i] == ngrams.get(i, 0)


def test_token_hash_bounds():
    h = portable_token_hashes(["alpha", "beta", "x", ""])
    assert ((h >= 0) & (h < P)).all()
    # deterministic + distinct for distinct short tokens
    assert len(set(h.tolist()[:3])) == 3
    assert h[3] == 7  # empty token = initial constant

