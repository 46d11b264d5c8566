"""Plan-shape regression tests: the scale properties claimed in
SCALING.md must be visible in the physical plans — filter pushdown,
column pruning, broadcast joins, top-k without global sort. A code
change that silently loses one of these would pass value checks but
regress 100x at scale."""

import io
import re
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = _plan(queries["q11_agg_pricing_summary"](spark, SF_SMOKE))
    pushed = re.search(r"PushedFilters: \[(.+?)\]", plan)
    assert pushed and "l_shipdate" in pushed.group(1), plan


def test_column_pruning(spark, queries):
    plan = _plan(queries["q11_agg_pricing_summary"](spark, SF_SMOKE))
    m = re.search(r"ReadSchema: struct<(.*?)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # q11 needs exactly 7 of lineitem's 11 columns
    assert read_cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }, read_cols


def test_star_join_broadcasts_dims(spark, queries):
    plan = _plan(queries["q06_join_broadcast"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_avoids_global_sort(spark, queries):
    plan = _plan(queries["q18_orderby_limit"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_partial_aggregation_before_exchange(spark, queries):
    plan = _plan(queries["q11_agg_pricing_summary"](spark, SF_SMOKE))
    # partial (map-side) HashAggregate must appear below the Exchange
    first_agg = plan.index("HashAggregate")
    assert "partial_sum" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_semi_join_strategy(spark, queries):
    plan = _plan(queries["q07_join_semi"](spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan


def test_no_decimal_output_in_oracled_queries(spark, queries):
    """Regression guard for the q13b class of bug: Spark SQL parses
    bare numeric literals (100.0, 0.5) as DECIMAL, which silently
    changes an output column's type and breaks the cross-engine value
    hash even when the numbers agree. Every oracled query's OUTPUT
    schema must be decimal-free (decimals are fine internally — the
    rounding.dsum2/davg2 helpers use them on purpose for deterministic
    summation)."""
    from pyspark.sql.types import DecimalType

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    offenders = []
    for key in oracles:
        df = queries[key](spark, SF_SMOKE)
        for field in df.schema.fields:
            if isinstance(field.dataType, DecimalType):
                offenders.append(f"{key}.{field.name}: {field.dataType}")
    assert not offenders, offenders


def test_asof_join_is_single_shuffle_no_join(spark, queries):
    """The as-of join must compile to union + one Window exchange —
    never a per-user range join or nested loop."""
    plan = _plan(queries["q36_asof_join"](spark, SF_SMOKE))
    assert "Join" not in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_split_is_pure_projection(spark, queries):
    """assign_split must add zero shuffles — it's a per-row hash."""
    plan = _plan(queries["ext_split"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan
    assert "* Project" in plan, plan  # '*' = inside whole-stage codegen


def test_redact_is_pure_projection(spark, queries):
    plan = _plan(queries["ext_redact"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_chunk_dedup_partial_aggregates_and_single_shingle_pass(spark, queries):
    """Winner selection must be a partial-agg'd groupBy (map-side
    combine) and the hashed frame must come from the persisted cache,
    not a second parquet scan + regex pass."""
    df = queries["ext_chunk_dedup"](spark, SF_SMOKE)
    plan = _plan(df)
    # keep-first via hash aggregate, not a sort-based window
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan
    # the persist makes BOTH consumers (winner agg + join-back) read the
    # cached hashed frame instead of re-scanning + re-shingling parquet
    # (explain re-renders the cached child plan under each
    # InMemoryRelation, so counting "Scan parquet" overcounts)
    assert plan.count("InMemoryTableScan") >= 2, plan
    df.sparkSession.catalog.clearCache()


def test_stratified_sample_broadcasts_rates_no_fact_shuffle(spark, queries):
    """The per-stratum rate table must come back as a broadcast join;
    the corpus side must not be exchanged for the join (the only
    exchanges belong to the tiny counts aggregate)."""
    plan = _plan(queries["ext_stratified_sample"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    # no sort-merge join anywhere: the corpus is never co-partitioned
    assert "SortMergeJoin" not in plan, plan


def test_quality_gate_broadcasts_threshold(spark, queries):
    plan = _plan(queries["ext_quality_gate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # no window operator: the gate is an aggregate, not a per-stratum sort
    assert "Window" not in plan, plan


def test_contamination_broadcasts_benchmark_side(spark, queries):
    plan = _plan(queries["ext_contamination"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_fuzzy_match_blocks_before_pairing(spark, queries):
    """The self-join must be an equi-join on the block key — a
    Levenshtein-only predicate would be a cartesian product."""
    plan = _plan(queries["ext_fuzzy_match"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_stats_topk_no_global_sort(spark, queries):
    plan = _plan(queries["ext_ngram_stats"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_topk_and_broadcast_stats(spark, queries):
    plan = _plan(queries["ext_bm25"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_hybrid_search_no_global_window_sort(spark, queries):
    """Both rankers must reduce via distributed top-k BEFORE any
    row_number window: the Window may only ever see the POOL-sized
    survivor frame (a corpus-wide single-partition Window is the
    regression this guards against)."""
    plan = _plan(queries["ext_hybrid_search"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_join_strategy_hints_are_honored(spark):
    """Per-join strategy hints: the escape hatch when AQE's choice is
    wrong for a specific 100 TB join (e.g. forcing shuffle-hash to
    avoid a sort on a huge pre-bucketed side). Hints must survive
    into the physical plan."""
    from smartpipeline_spark import sources

    o = sources.table(spark, "orders", SF_SMOKE)
    c = sources.table(spark, "customer", SF_SMOKE)
    merge_plan = _plan(o.join(c.hint("merge"), o.o_custkey == c.c_custkey))
    assert "SortMergeJoin" in merge_plan, merge_plan
    shuffle_hash_plan = _plan(o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey))
    assert "ShuffledHashJoin" in shuffle_hash_plan, shuffle_hash_plan
    bcast_plan = _plan(o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey))
    assert "BroadcastHashJoin" in bcast_plan, bcast_plan


def test_merge_upsert_prereduces_and_sort_merges(spark, queries):
    plan = _plan(queries["q58_merge_upsert"](spark, SF_SMOKE))
    # full outer must be sort-merge (broadcast cannot implement it for
    # large-large), and the source side must aggregate BELOW the join
    assert re.search(r"SortMergeJoin.*FullOuter", plan), plan
    assert "HashAggregate" in plan, plan
    join_pos = plan.index("SortMergeJoin")
    assert plan.index("HashAggregate") > join_pos  # formatted plan lists
    # children after the join header; presence of partial agg is checked
    # by the keys line
    assert re.search(r"Keys \[1\]: \[o_custkey", plan), plan


def test_pack_sequences_has_no_corpus_wide_window(spark, queries):
    plan = _plan(queries["ext_pack_sequences"](spark, SF_SMOKE))
    # every Window over per-document rows must be partitioned by bucket —
    # a Window whose partition spec is empty sorts the corpus in ONE
    # partition. The only unpartitioned window allowed is the cumsum over
    # the bucket table (input = one row per bucket, after HashAggregate).
    windows = re.findall(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan)
    assert windows, plan
    partitioned = [w for w in windows if w.strip().startswith("bucket")]
    unpartitioned = [w for w in windows if not w.strip().startswith("bucket")]
    assert partitioned, plan  # the per-doc window rides bucket partitions
    # at most the tiny bucket-level cumsum may be unpartitioned
    assert len(unpartitioned) <= 1, plan
    # and the corpus join side receives the bucket bases via broadcast
    assert "BroadcastExchange" in plan, plan


def test_snapshot_diff_is_one_join_no_window(spark, queries):
    plan = _plan(queries["q61_snapshot_diff"](spark, SF_SMOKE))
    # change detection must be row-local on top of the diff join:
    # no window, no second aggregation pass above the (reused) q58
    # source reduction
    assert "Window" not in plan, plan
    assert re.search(r"SortMergeJoin.*FullOuter", plan), plan


def test_ivfpq_scans_only_probed_cells(spark, queries):
    plan = _plan(queries["ext_knn_ivfpq"](spark, SF_SMOKE))
    # the probed-cell IN-filter must sit below the ADC scoring stage
    # so unprobed cells' rows never reach the scoring Python worker.
    # Catalyst renders the literal set as INSET and pushes the filter
    # beneath the cell projection (condition on the assignment UDF) —
    # on the smoke corpus 10 queries x nprobe=8 happen to probe all 16
    # cells, so membership is full here; the SHAPE (filter before
    # score) is what this test pins.
    cond = re.search(r"Condition : .*INSET[^\n]*", plan)
    assert cond, plan
    score_pos = plan.index("score(")
    assert plan.index("INSET") < score_pos, plan
    # exact re-rank joins the tiny candidate set back: broadcast, not
    # a corpus shuffle
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_window_is_per_key_and_changes_prereduce(spark, queries):
    plan = _plan(queries["q60_scd2"](spark, SF_SMOKE))
    # the effective-range window must partition by the dimension key —
    # an empty partition spec would sort the whole history in ONE task
    windows = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert windows, plan
    assert all(w.strip().startswith("custkey") for w in windows), plan
    # the change stream collapses to one row per (key, day) BEFORE the
    # union/window: a partial aggregate must appear under the exchange
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_substring_dedup_no_self_join_and_windows_per_doc(spark, queries):
    """ExactSubstr's scale claim: duplicated-gram marking is an
    aggregate + 1:N join back (broadcast at fixture scale), never a
    self-join cross product, and span merging windows on doc_id."""
    plan = _plan(queries["ext_substring_dedup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # partial aggregation before the gram-count exchange
    assert "partial_count" in plan, plan


def test_dsir_scoring_is_map_side(spark):
    """DSIR's scale claim: scoring never explodes or shuffles the
    corpus — the log-ratio map is a plan literal and the gram fold is
    row-local, so the scored frame's plan has NO Generate (explode)
    and NO Exchange at all."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.curation import (
        assign_split,
        dsir_logratio,
        dsir_scores,
    )
    from pyspark.sql import functions as F

    d = sources.table(spark, "documents", SF_SMOKE)
    s = assign_split(d)
    raw = s.filter(F.col("split") != "test").select("doc_id", "text")
    target = s.filter(F.col("split") == "test").select("doc_id", "text")
    plan = _plan(dsir_scores(raw, dsir_logratio(raw, target)))
    assert "Generate" not in plan, plan
    assert "Exchange" not in plan, plan


def test_no_undeclared_nested_loop_joins_in_relational_inventory(spark, queries):
    """Global guard over every lazily-planned relational key (q*),
    through the runner's own rule (scripts/check_oracles.py --plans,
    which covers the eager ext_* keys too): no CartesianProduct outside
    ``NESTED_LOOP_ALLOWED``, and no more BroadcastNestedLoopJoins than
    keyless final-aggregate frames, so one scalar attach cannot exempt
    a second, accidental all-pairs join. This is the plan pathology
    that passes every value check on fixtures and becomes an O(N*M)
    scan at cluster scale."""
    from scripts.check_oracles import _plan_check

    failing = []
    for key, fn in sorted(queries.items()):
        if key.startswith("q"):
            ok, detail = _plan_check(key, fn(spark, SF_SMOKE), None, SF_SMOKE)
            if not ok:
                failing.append(f"{key}: {detail}")
    assert not failing, failing


def test_weighted_sample_is_take_ordered_not_global_sort(spark, queries):
    """A-ES selection must compile to TakeOrderedAndProject (per-
    partition heaps) — a global Sort+Limit would shuffle the corpus."""
    plan = _plan(queries["ext_weighted_sample"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_line_dedup_no_corpus_window_and_bounded_exchanges(spark, queries):
    """Keep-first must be the partial-agg min(struct) + join-back, not
    a window over the corpus: no Window node anywhere, and exchanges
    only for the fp agg/join and the per-doc reassembly (the fixture
    corpus sits below the width rule's pressure floor, so the benched
    key plans the one-pass shape — the r12 proxy shape is pinned by
    test_line_dedup_proxy_shape_* instead)."""
    plan = _plan(queries["ext_line_dedup"](spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 6, plan


def test_line_dedup_proxy_shape_bodies_shuffle_once(spark):
    """Forcing the width (partitions=<int>) selects the above-floor
    proxy shape: the decision passes run over skinny (doc_id, pos, fp)
    rows and line bodies appear ONLY in the final verdict-attach
    exchange (guide §8 — every shuffle but the last moves a proxy). No
    hashpartitioning exchange output may carry a line/body column; the
    attach side is the broadcast/final join exchange only."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.curation import line_dedup

    d = sources.table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    plan = _plan(line_dedup(d, partitions=8))
    assert "Window" not in plan, plan
    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Exchange", block) and "hashpartitioning" in block:
            assert not re.search(r"Output.*\b(line|text|_nl)#", block), block


def test_fuzzy_decontam_broadcasts_benchmark_only(spark, queries):
    """The benchmark side must broadcast; the corpus side must never
    appear under a sort-merge join (it would shuffle terabytes)."""
    plan = _plan(queries["ext_fuzzy_decontam"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ccnet_buckets_thresholds_broadcast_no_ntile(spark, queries):
    """Tercile labeling must be the broadcast percentile-gate shape —
    a per-language ntile/percent_rank window would sort >50% of a web
    corpus in one partition."""
    plan = _plan(queries["ext_ccnet_buckets"](spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
