"""Skew-guard tests: the hot-key caps in front of every quadratic
self-join (shingle inverted index, winnow fingerprint index, fuzzy
blocking). Each test builds a synthetic corpus with a deliberately
degenerate key and checks BOTH directions:

* with the cap engaged, the quadratic term is bounded (the hot key's
  pairs vanish / the degenerate block is sub-blocked);
* with the cap above the corpus maximum, output is identical to the
  uncapped run — the guard never changes results on a healthy corpus.
"""

from smartpipeline_spark.functions.dedup import (
    drop_hot_keys,
    fuzzy_pairs,
    jaccard_pairs,
    overlap_pairs,
)


def test_drop_hot_keys_bounds_doc_frequency(spark):
    rows = [(f"d{i}", "hot") for i in range(20)] + [
        (f"d{i}", f"k{i}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "sh"])
    capped = drop_hot_keys(df, "sh", 5)
    assert capped.filter("sh = 'hot'").count() == 0
    assert capped.count() == 20
    # cap above the corpus max df: a no-op
    assert drop_hot_keys(df, "sh", 100).count() == 40
    # None disables the guard entirely (identical plan)
    assert drop_hot_keys(df, "sh", None) is df


def test_jaccard_hot_shingle_cap(spark):
    # 12 docs share an 8-word boilerplate prefix (6 shingles with df=12)
    # plus a unique 2-word tail (boundary shingles with df=1).
    boiler = "terms of service apply to all content here"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} tail{i}") for i in range(12)],
        ["doc_id", "text"],
    )
    uncapped = jaccard_pairs(docs, max_df=None)
    # every pair shares the 6 boilerplate shingles: 6/(8+8-6) = 0.6 >= 0.2
    assert uncapped.count() == 12 * 11 // 2
    # cap below the boilerplate df: the hot shingles leave the universe
    # and no pair shares anything
    assert jaccard_pairs(docs, max_df=5).count() == 0
    # cap above the corpus max df: bit-identical to uncapped
    high = jaccard_pairs(docs, max_df=1000)
    assert sorted(map(tuple, high.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_overlap_pairs_hot_fingerprint_cap(spark):
    # fp 0 is boilerplate (all 10 docs); docs 1 and 2 genuinely overlap
    # via fps 1..3; every doc also has one unique fp.
    rows = []
    for d in range(10):
        rows.append((d, 0))
        rows.append((d, 100 + d))
    for fp in (1, 2, 3):
        rows.append((1, fp))
        rows.append((2, fp))
    fp = spark.createDataFrame(rows, ["doc_id", "fp"])
    # uncapped: the boilerplate fp alone makes EVERY pair hit the 0.5
    # overlap bar (shared=1, min size=2) — 45 junk pairs
    assert overlap_pairs(fp, max_df=None).count() == 45
    capped = {(r.d1, r.d2) for r in overlap_pairs(fp, max_df=5).collect()}
    assert capped == {(1, 2)}
    high = {(r.d1, r.d2) for r in overlap_pairs(fp, max_df=1000).collect()}
    assert high == {(r.d1, r.d2) for r in overlap_pairs(fp, max_df=None).collect()}


def test_fuzzy_subblock_bounds_degenerate_block(spark):
    # one degenerate block "inc" with 20 members, first chars a/b
    names = [f"{c}{i:02d} inc" for c in "ab" for i in range(10)]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    full = {(r.n1, r.n2) for r in fuzzy_pairs(df, "name", max_block=None).collect()}
    sub = {(r.n1, r.n2) for r in fuzzy_pairs(df, "name", max_block=10).collect()}
    # within-first-char pairs survive sub-blocking
    assert ("a00 inc", "a01 inc") in sub
    assert ("b00 inc", "b01 inc") in sub
    # cross-first-char pairs are the documented recall loss
    assert ("a00 inc", "b00 inc") in full
    assert not any(p1[0] != p2[0] for p1, p2 in sub)
    assert sub < full
    # 45 within-a + 45 within-b
    assert len(sub) == 90
    # cap above the block size: identical to uncapped
    assert {
        (r.n1, r.n2) for r in fuzzy_pairs(df, "name", max_block=100).collect()
    } == full


def test_fuzzy_subblock_recurses_past_shared_first_char(spark):
    # degenerate block "inc" whose 20 members ALL share first char 'a':
    # level 1 (first char) cannot split it, level 2 (second char x/y)
    # must — the round-3 single-level gap
    names = [f"a{c}{i:02d} inc" for c in "xy" for i in range(10)]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    sub = {(r.n1, r.n2) for r in fuzzy_pairs(df, "name", max_block=10).collect()}
    # within-second-char pairs survive
    assert ("ax00 inc", "ax01 inc") in sub
    assert ("ay00 inc", "ay01 inc") in sub
    # cross-second-char pairs are the recall loss of the second round
    assert not any(p1[1] != p2[1] for p1, p2 in sub)
    assert len(sub) == 90  # 45 within-x + 45 within-y
    # single level (levels=1) leaves the block whole: quadratic again
    one = {
        (r.n1, r.n2)
        for r in fuzzy_pairs(df, "name", max_block=10, levels=1).collect()
    }
    assert len(one) > len(sub)


# ---- partitions="auto" / anchored-form contracts (VERDICT r10 #1) ----


def test_auto_partitions_floor_skip_keeps_small_plans_clean(spark):
    """At fixture scale the one-pass estimate lands at/below the rule's
    floor, so "auto" must inject NO explicit hash repartition — small
    joins keep their pre-r11 plans (AQE stays free to broadcast)."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon word{i}") for i in range(30)],
        ["doc_id", "text"],
    )
    plan = (
        jaccard_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert not any(
        "REPARTITION_BY_NUM" in line and "hashpartitioning" in line
        for line in plan.splitlines()
    ), "floor-skip failed: explicit width injected on a tiny join"


def test_explicit_partitions_inject_width_and_preserve_values(spark):
    """An int forces that exchange width on both the index join and
    the pair-count exchange; results are bit-identical to None."""
    docs = spark.createDataFrame(
        [(i, f"shared common prefix words here tail{i % 7} x{i}") for i in range(40)],
        ["doc_id", "text"],
    )
    forced = jaccard_pairs(docs, partitions=8)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    widths = {
        line.split("hashpartitioning(")[1].split("), REPARTITION_BY_NUM")[0].rsplit(", ", 1)[-1]
        for line in plan.splitlines()
        if "REPARTITION_BY_NUM" in line and "hashpartitioning" in line
    }
    assert widths == {"8"}, widths
    base = {tuple(r) for r in jaccard_pairs(docs, partitions=None).collect()}
    assert {tuple(r) for r in forced.collect()} == base


def test_anchored_jaccard_equals_filtered_full_join(spark):
    """anchor=pred must emit exactly the full join's pairs restated as
    (d1 > d2=anchor), with identical jaccard values (sizes and common
    counts still from the whole capped universe)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"zeta eta theta iota kappa t{i % 5} u{i % 3} v{i}") for i in range(24)],
        ["doc_id", "text"],
    )
    pred = F.col("doc_id") % 6 < 2
    full = {(r.d1, r.d2, r.jaccard) for r in jaccard_pairs(docs, threshold=0.3).collect()}
    anch = {
        (r.d1, r.d2, r.jaccard)
        for r in jaccard_pairs(docs, threshold=0.3, anchor=pred).collect()
    }
    assert anch == {(y, x, j) for (x, y, j) in full if x % 6 < 2}
    assert len(anch) > 0


def test_anchored_minhash_equals_filtered_full_join(spark):
    from pyspark.sql import functions as F

    from smartpipeline_spark.functions.dedup import (
        minhash_candidates,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"lorem ipsum dolor sit amet tail{i % 4}") for i in range(16)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs)
    pred = F.col("doc_id") % 4 < 1
    full = {(r.d1, r.d2) for r in minhash_candidates(sigs).collect()}
    anch = {(r.d1, r.d2) for r in minhash_candidates(sigs, anchor=pred).collect()}
    assert anch == {(y, x) for (x, y) in full if x % 4 < 1}
    assert len(anch) > 0


def test_resolve_pair_partitions_contract(spark):
    """The pairing joins' width through the one contract
    (scale.resolve_exchange_width): None -> None; int -> int; "auto" ->
    None at/below floor (the injection threshold is the tuned rule's
    2 x parallelism floor)."""
    from smartpipeline_spark.functions.dedup import _pair_join_width, word_shingles
    from smartpipeline_spark.operators import scale

    docs = spark.createDataFrame(
        [(i, f"one two three w{i}") for i in range(10)], ["doc_id", "text"]
    )
    idx = word_shingles(docs, 3)
    assert _pair_join_width(None, idx, ["sh"]) is None
    assert _pair_join_width(17, idx, ["sh"]) == 17
    assert _pair_join_width("auto", idx, ["sh"]) is None
    # "auto" records the join's exact output cardinality: the shingle
    # "one two three" pairs all 10 docs, the rest are singletons
    assert scale.LAST_DECISION["est_rows"] == 45


def test_auto_partitions_clamp_down_oversized_session(spark):
    """The floor-skip's exception: under an egregiously oversized
    session width (> 8x the tuned target) "auto" must inject the
    tuned width anyway (measured +49% wall at 32x over-width), while
    a session within the 8x band stays uninjected."""
    from smartpipeline_spark.functions.dedup import _pair_join_width, word_shingles

    docs = spark.createDataFrame(
        [(i, f"one two three w{i}") for i in range(10)], ["doc_id", "text"]
    )
    idx = word_shingles(docs, 3)
    floor = 2 * spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(8 * floor + 1))
        assert _pair_join_width("auto", idx, ["sh"]) == floor
        spark.conf.set("spark.sql.shuffle.partitions", str(8 * floor))
        assert _pair_join_width("auto", idx, ["sh"]) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_spread_width_is_byte_aware(spark):
    """The shingle-map width helper: parallelism floor on a small scan
    (live Catalyst-stats path — not the exception fallback), byte-based
    growth past it (~128 MB/task), and the parallelism fallback when
    the stats call is unavailable."""
    from types import SimpleNamespace

    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.dedup import _spread_width

    dp = spark.sparkContext.defaultParallelism
    d = sources.table(spark, "documents", "/root/testdata/sf0.001")
    # live path: a sub-MB scan floors at parallelism, and the stats
    # call itself must work (guards against the byte-growth branch
    # silently dying into the fallback)
    assert int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) > 0
    assert _spread_width(d) == dp

    class _Stats:
        def __init__(self, n):
            self._n = n

        def sizeInBytes(self):
            return self._n

    def fake(nbytes):
        qe = SimpleNamespace(
            optimizedPlan=lambda: SimpleNamespace(stats=lambda: _Stats(nbytes))
        )
        return SimpleNamespace(
            sparkSession=spark, _jdf=SimpleNamespace(queryExecution=lambda: qe)
        )

    assert _spread_width(fake(10 * 1024**3)) == 80  # 10 GB -> 80 tasks
    assert _spread_width(fake(1 << 55)) == dp  # Catalyst "unknown" -> floor
    broken = SimpleNamespace(sparkSession=spark)  # no _jdf -> fallback
    assert _spread_width(broken) == dp
