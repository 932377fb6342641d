"""Physical-plan audits: the properties that matter at 100 TB must be
visible in the Catalyst plan at any SF."""

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.plans import formatted_plan, plan_audit

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter(F.col("event_type") == "error").select("user_id", "value")
    plan = formatted_plan(q)
    assert "PushedFilters" in plan and "event_type" in plan
    # column pruning: props (the widest column) must NOT be read
    assert "props" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_agg_uses_partial_aggregation(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = formatted_plan(q)
    # map-side combine: partial_sum below the exchange, final above
    assert "partial_sum" in plan
    audit = plan_audit(q)
    assert audit["exchanges"] == 1


def test_semi_join_broadcasts_small_side(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = c.join(
        F.broadcast(o.select(F.col("o_custkey").alias("c_custkey"))),
        "c_custkey",
        "left_semi",
    )
    audit = plan_audit(q)
    assert audit["broadcast_joins"] >= 1
    assert audit["sort_merge_joins"] == 0


def test_exact_dedup_single_shuffle(spark):
    """The exact-dup tier must be one exchange on sha (partial agg
    map-side), not a window sort."""
    from fastqdedup_spark.operators.exact_dedup import exact_group_counts, with_sha256

    files = spark.createDataFrame(
        [("r", "p", "c", "py", "x", 1)],
        "repo string, path string, commit string, lang string, content string, id long",
    )
    q = exact_group_counts(with_sha256(files))
    audit = plan_audit(q)
    assert audit["exchanges"] == 1
    assert "Window" not in formatted_plan(q)


def test_verify_udf_evaluates_exactly_once(spark):
    """The exact-Jaccard pandas UDF must appear as ONE ArrowEvalPython
    node: without the asNondeterministic pin, Catalyst pushed the
    jaccard filter below the locality repartition and the UDF ran twice
    (full stream below the exchange + survivors above it)."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.operators.verify import verify_pairs_jaccard

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.5)
    contents = spark.createDataFrame(
        [(i, f"doc number {i} alpha beta") for i in range(20)],
        "id long, content_norm string",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    out = verify_pairs_jaccard(pairs, contents, cfg, id_col="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


@pytest.mark.parametrize("edit", [False, True])
def test_parity_verify_stays_in_the_jvm(spark, edit):
    """The parity edges plan (verify_pairs_distance over
    pigeonhole_candidate_pairs) runs no Python: no ArrowEvalPython node.
    And the two joins that attach the key values to a pair join on the
    id columns alone: a predicate term equating the two sides (e.g.
    length(value_a) = length(value_b)) would become a key of the id_b
    join and re-key its exchange."""
    import re

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.operators.lsh import pigeonhole_candidate_pairs
    from fastqdedup_spark.operators.verify import verify_pairs_distance

    cfg = DedupConfig(max_distance=1, use_edit_distance=edit)
    keys = spark.createDataFrame(
        [(k, 1) for k in ("AAAA", "AAAT", "AATT", "TTTT", "AAA")],
        "key string, cnt long",
    )
    edges = verify_pairs_distance(pigeonhole_candidate_pairs(keys, cfg), keys, cfg)
    plan = formatted_plan(edges)
    assert "ArrowEvalPython" not in plan, plan
    key_lists = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    attach = [k for k in key_lists if "id_a" in k or "id_b" in k]
    assert len(attach) == 4, key_lists
    assert all(re.fullmatch(r"id_[ab]#\d+L?", k) for k in attach), key_lists
    assert sorted(tuple(r) for r in edges.collect()) == [
        ("AAAA", "AAAT"), ("AAAT", "AATT"),
    ]


def test_est_expression_stays_bit_count_sized(spark):
    """The est-prefilter expression must stay O(num_perm/32) lanes —
    the 128-term byte-compare ancestor overflowed janino's 64 KB method
    limit and the pair stage silently ran without codegen (and its SWAR
    'fix' exceeded HotSpot's JIT limit: 177x slower). One element_at
    pair + one bit_count per 32-bin word is the contract."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.operators.verify import est_jaccard_matches

    for num_perm in (64, 128):
        cfg = DedupConfig(num_perm=num_perm)
        s = str(est_jaccard_matches(cfg)._jc)
        n_words = num_perm // 32
        # the x = a^b operand appears twice per word in the raw tree
        # (codegen's subexpression elimination dedupes it): 2 element_at
        # per xor x 2 occurrences = 4 per word
        assert s.count("element_at") == 4 * n_words, s
        assert s.count("bit_count") == n_words, s


def test_python_stage_tasks_auto_is_half_the_slots(spark):
    from fastqdedup_spark.config import DedupConfig

    sc = spark.sparkContext
    auto = DedupConfig().python_stage_tasks(sc)
    assert auto == max(2, sc.defaultParallelism // 2)


def test_python_stage_tasks_cap_is_size_aware(spark):
    """The AUTO cap only engages for stages long enough to sustain
    python+JVM oversubscription; short stages keep full width (measured:
    capping a ~300-rows-per-task stage cost 15% wall — BASELINE.md r5)."""
    from fastqdedup_spark.config import PYTHON_STAGE_MIN_ROWS_PER_TASK, DedupConfig

    sc = spark.sparkContext
    width = sc.defaultParallelism
    cfg = DedupConfig()
    threshold = PYTHON_STAGE_MIN_ROWS_PER_TASK
    # short stage -> full width
    assert cfg.python_stage_tasks(sc, approx_rows=width * threshold - 1) == width
    # long stage -> capped to half
    assert cfg.python_stage_tasks(sc, approx_rows=width * threshold) == max(
        2, width // 2
    )
    # unknown size -> conservative cap (status quo)
    assert cfg.python_stage_tasks(sc, approx_rows=None) == max(2, width // 2)


def _survivor_semi_join_audit(spark, max_rows: int) -> tuple[dict, float]:
    from dataclasses import replace

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.incremental import dedup_files

    cfg = replace(
        DedupConfig(shingle_k=5, jaccard_threshold=0.6),
        incremental_broadcast_max_rows=max_rows,
    )
    res = dedup_files(spark, generate_files(spark, 60, seed=5), cfg, quality=False)
    return plan_audit(res.deduped), res.metrics["output.files"]


def test_survivor_semi_join_broadcasts_on_observed_count(spark):
    """The survivors semi-join joins two pinned tables: under the
    default directional dissection the survivors come out of a Python
    stage and carry no size estimate, so Spark alone would plan a
    sort-merge join. The survivor keys broadcast when the observed
    output.files fits incremental_broadcast_max_rows, and the join
    stays shuffled (strategy left to AQE) when the gate is below it."""
    small, n_out = _survivor_semi_join_audit(spark, 1_000_000)
    assert 0 < n_out <= 1_000_000
    assert small["broadcast_joins"] == 1 and small["sort_merge_joins"] == 0
    big, n_out_big = _survivor_semi_join_audit(spark, int(n_out) - 1)
    assert n_out_big == n_out
    assert big["broadcast_joins"] == 0 and big["sort_merge_joins"] == 1


def _fan_out_exchanges(df) -> int:
    return formatted_plan(df).count("REPARTITION_BY_NUM")


@pytest.mark.parametrize("known", ["short", "unknown", "long"])
def test_arrow_stages_fan_out_unless_known_short(spark, known):
    """The signer and verify repartition to the Arrow task count
    before running, except when the caller passes a known row count
    below PYTHON_STAGE_MIN_ROWS_PER_TASK: then they run in the
    partitions their input already has. An unknown count, or one at
    the threshold, keeps the exchange."""
    from fastqdedup_spark.config import PYTHON_STAGE_MIN_ROWS_PER_TASK, DedupConfig
    from fastqdedup_spark.functions.minhash import add_signature_columns
    from fastqdedup_spark.operators.verify import verify_pairs_jaccard

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.5)
    approx = {
        "short": PYTHON_STAGE_MIN_ROWS_PER_TASK - 1,
        "unknown": None,
        "long": PYTHON_STAGE_MIN_ROWS_PER_TASK,
    }[known]
    contents = spark.createDataFrame(
        [(i, f"doc number {i} alpha beta") for i in range(20)],
        "id long, content_norm string",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    signed = add_signature_columns(contents, cfg, approx_rows=approx)
    verified = verify_pairs_jaccard(
        pairs, contents, cfg, id_col="id", approx_rows=approx,
    )
    want = 0 if known == "short" else 1
    assert _fan_out_exchanges(signed) == want
    assert _fan_out_exchanges(verified) == want
