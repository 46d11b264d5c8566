#!/usr/bin/env python
"""Scale smoke: run the heavy training-data operators on an N-times
replicated near-duplicate corpus (default 8x sf0.1 = 40k docs) — the
WORST case for dedup machinery, since every document has N-1 near
twins and every passage is shared N ways. The point is demonstrated
headroom: candidate generation, span detection, and selection must
complete with flat plans (no collect blowups, no quadratic pair
explosions beyond the declared per-cluster N choose 2) as the corpus
multiplies.

Each replica appends a distinct tag word, so replicas are NEAR dups
(exact dedup correctly finds nothing; MinHash banding and ExactSubstr
spans light up at maximum density).

Usage: python scripts/scale_smoke.py [N] [sf_dir] [--ops=a,b,c]
Prints one JSON line: {"n_docs": ..., "timings": {...}, "counts": {...}}

``--ops`` restricts to a named subset (64x rungs target the
shuffle-heaviest ops without paying for the cheap ones again).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from smartpipeline_spark import indexstore, sources
from smartpipeline_spark.session import get_spark


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    flt = next((a for a in sys.argv[1:] if a.startswith("--ops=")), None)
    ops = set(flt.split("=", 1)[1].split(",")) if flt else None
    n = int(pos[0]) if pos else 8
    sf_dir = pos[1] if len(pos) > 1 else "/root/testdata/sf0.1"
    # the default 8g driver heap models ONE executor; a high-replica
    # rung (64x = 38M fact rows / 1.28M near-dup docs in a single
    # local JVM) stands in for a multi-executor cluster, so size the
    # JVM accordingly (32g ~ four 8g executors) — OOMing the smoke
    # would measure the harness, not the operators
    import os

    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM",
        "48g" if n >= 256 else ("32g" if n >= 32 else "8g"),
    )
    shuf = next((a for a in sys.argv[1:] if a.startswith("--shuffle=")), None)
    # Shuffle partitions SCALE WITH THE RUNG unless overridden — the
    # production rule (~128MB post-shuffle per partition), which a
    # fixed local default silently violates as replicas multiply: at
    # 256x the 64-partition default put the capped-jaccard probe's
    # whole shingle join through 64 oversized aggregations (measured:
    # 105.8 GB memory spill, 548s GC, 17.9k executor-CPU-sec; at 512
    # partitions the SAME probe ran 83 GB / 296s / 10.6k — identical
    # output). AQE only coalesces DOWN, so the initial cap binds.
    from smartpipeline_spark.session import default_parallelism

    cpus = default_parallelism()
    auto_shuffle = max(2 * cpus, 2 * cpus * n // 32)
    spark = get_spark(
        "scale-smoke",
        shuffle_partitions=int(shuf.split("=", 1)[1]) if shuf else auto_shuffle,
    )

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name, fn):
        if ops is not None and name not in ops:
            return
        t0 = time.monotonic()
        counts[name] = fn()
        timings[name] = round(time.monotonic() - t0, 2)

    def want(*names) -> bool:
        return ops is None or bool(ops & set(names))

    # the replicated near-dup corpus is itself minutes of explode +
    # gigabytes of cache at 64x — built only when a doc op runs (the
    # same guard the TPC-H and ANN blocks get; --ops exists exactly to
    # avoid paying for unselected work)
    n_docs = 0
    if want("exact_dedup_groups", "minhash_candidate_pairs", "jaccard_verified_pairs", "exactsubstr_spans", "dsir_selected", "cdc_chunk_fps", "classifier_train_5it", "jaccard_pairs_capped2", "minhash_candidates_capped2", "c4_rules_report", "lm_stupid_backoff_scored", "line_dedup_kept_lines", "batch_inference_scored", "pack_sequences_placed", "epoch_shuffle_rows"):
        base = sources.table(spark, "documents", sf_dir).select("doc_id", "text")
        docs = base.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
            "doc_id",
            "text",
        ).select(
            (F.col("doc_id") * n + F.col("r")).alias("doc_id"),
            F.concat("text", F.lit(" rtag"), F.col("r").cast("string")).alias("text"),
        )
        # materialize once so every operator reads the same physical
        # corpus (the replicate explode isn't re-run inside each
        # timing) — via the library's heap-aware persist (r11: at 1024x
        # the 6.6GB corpus on an 8g heap thrashed the cache store for
        # +73% wall; DISK_ONLY above ~80% of the unified pool is the
        # fix, and the rung validates it through the same helper the
        # operators use)
        from smartpipeline_spark import materialize

        docs = materialize.persist(docs.repartition(32))
        counts["docs_storage_level"] = str(docs.storageLevel)
        n_docs = docs.count()

    from smartpipeline_spark.functions.dedup import (
        duplicate_spans,
        jaccard_pairs,
        minhash_candidates,
        minhash_signatures,
    )

    timed(
        "exact_dedup_groups",
        lambda: docs.select(
            F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " "))
            .alias("fp")
        )
        .groupBy("fp")
        .count()
        .filter("count >= 2")
        .count(),
    )
    timed(
        "minhash_candidate_pairs",
        lambda: minhash_candidates(minhash_signatures(docs)).count(),
    )
    timed("jaccard_verified_pairs", lambda: jaccard_pairs(docs, threshold=0.8).count())
    timed("exactsubstr_spans", lambda: duplicate_spans(docs).count())

    # --- CCNet line dedup (round-7): every replica page carries TWO
    # corpus-GLOBAL boilerplate lines (one line hash holding n_docs
    # instances — the maximal hot key the keep-first min(struct)
    # partial-agg and AQE join-skew handling are claimed to absorb)
    # plus a per-cluster prefix line duplicated N ways. The CCNet
    # digit-bucketing normalization ('rtagR' -> 'rtag0') additionally
    # collapses every replica cluster's BODY lines to one fp, so
    # kept-line volume is ~CONSTANT in replicas (~2 lines per base
    # doc + the 2 global lines) while instance volume grows linearly
    # — the exponent measures pure compute, and every fp is a
    # replica-degree hot key.
    if want("line_dedup_kept_lines"):
        from smartpipeline_spark.functions.curation import line_dedup

        def _line_dedup():
            pages = docs.select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.lit("\nPlease accept cookies to continue."),
                    F.lit("\nCopyright footer boilerplate line."),
                    F.lit("\n"),
                    F.substring("text", 1, 40),
                ).alias("text"),
            )
            out = line_dedup(pages)
            return int(
                out.agg(F.sum("n_kept").cast("long").alias("k")).collect()[0]["k"]
            )

        timed("line_dedup_kept_lines", _line_dedup)

    # --- packing + epoch shuffle (round-12): the two bounded-grid
    # cumsum ops newly under partitions="auto" — placement volume is
    # exactly linear in replicas (one row per doc resp. per doc-epoch),
    # so the wall exponent isolates the exchange sizing the auto rule
    # injects at rung scale while fixture plans stay untouched.
    if want("pack_sequences_placed", "epoch_shuffle_rows"):
        from smartpipeline_spark.functions.curation import (
            epoch_shuffle,
            pack_sequences,
        )

        timed("pack_sequences_placed", lambda: pack_sequences(docs).count())
        timed("epoch_shuffle_rows", lambda: epoch_shuffle(docs, epochs=2).count())

    # --- capped-OUTPUT pair probes (round-6): the full pair-emitters
    # above are bounded below by their OUTPUT volume, which grows
    # ~quadratically in replicas by construction (C(N,2) true pairs
    # per cluster) — their >1 scaling exponents measure the output
    # bound, not a compute blowup. These probes run the SAME index /
    # join / verify plans but put only ANCHOR docs (the 2
    # lowest-replica twins per cluster) on the build side, so emitted
    # pair volume grows LINEARLY in replicas (~2N per base doc). If
    # the capped probes track ~linear while the full ops show e~2,
    # the super-linearity is the output, proven mechanically.
    if want("jaccard_pairs_capped2", "minhash_candidates_capped2"):
        from smartpipeline_spark.functions.dedup import (
            jaccard_pairs,
            minhash_candidates,
            minhash_signatures,
        )
        from smartpipeline_spark.materialize import scope
        from smartpipeline_spark.operators.scale import LAST_DECISION

        anchor = F.col("doc_id") % n < 2

        # r11 (VERDICT r10 #1): the probes are PURE library API — the
        # anchored form and partitions="auto" now live in
        # jaccard_pairs/minhash_candidates themselves (one-pass join-
        # cardinality estimate -> scale.resolve_exchange_width -> explicit
        # exchange widths when above the floor). No partition counts or
        # conf juggling here; the rung just records what the rule
        # picked (scale.LAST_DECISION). The hot-key cap stays
        # replica-PROPORTIONAL (16 base docs at every rung): a fixed
        # cap would prune a growing share of the shingle universe as N
        # rises and the probe would measure the guard, not the join.
        # NOTE r10->r11 comparability: the minhash probe now joins on
        # the library's raw 4-long band_key (exactly-specified
        # candidates) instead of the r10 probe's murmur band_hash.

        def _record(name):
            counts[f"{name}_est_join_rows"] = int(
                LAST_DECISION.get("est_rows") or 0
            )
            counts[f"{name}_tuned_partitions"] = int(
                LAST_DECISION.get("partitions") or 0
            )

        def capped_jaccard():
            # the library persists its index frames internally; the
            # scope releases them so the next rung starts cold
            # (per-process measurement protocol: probes run solo)
            with scope():
                out = jaccard_pairs(
                    docs,
                    threshold=0.8,
                    max_df=16 * n,
                    anchor=anchor,
                    partitions="auto",
                ).count()
            _record("jaccard_pairs_capped2")
            return out

        def capped_minhash():
            with scope():
                out = minhash_candidates(
                    minhash_signatures(docs),
                    anchor=anchor,
                    partitions="auto",
                ).count()
            _record("minhash_candidates_capped2")
            return out

        timed("jaccard_pairs_capped2", capped_jaccard)
        timed("minhash_candidates_capped2", capped_minhash)

    from smartpipeline_spark.functions.curation import dsir_select

    # target built INSIDE the lambda: `docs` only exists when a doc op
    # was selected, and timed() skips unselected lambdas unevaluated
    timed(
        "dsir_selected",
        lambda: dsir_select(
            docs, docs.filter(F.col("doc_id") % 97 == 0), frac=0.25
        ).count(),
    )

    # CDC chunking is pure map-side python-kernel work — the smoke
    # demonstrates the embarrassingly-parallel claim holds as bytes
    # multiply (timing should track corpus bytes ~linearly); the
    # distinct-fp count is the index-build shuffle (16-byte keys)
    from smartpipeline_spark.functions.dedup import cdc_chunks

    timed(
        "cdc_chunk_fps",
        lambda: cdc_chunks(docs).select("fp").distinct().count(),
    )

    # classifier training: per-iteration cost must stay ONE bounded
    # (<= m+1 row) collect as the corpus multiplies — 5 iterations
    # suffice to smoke the loop shape without paying full convergence
    from smartpipeline_spark.functions.curation import train_text_classifier

    def _clf():
        labeled = docs.withColumn(
            "label",
            F.coalesce(F.col("text").contains("vector").cast("int"), F.lit(0)),
        )
        return len(train_text_classifier(labeled, iters=5)["weights"])

    timed("classifier_train_5it", _clf)

    # round-6 ops: the C4 rule battery must scale as pure map
    # throughput (zero exchanges — exponent ~1 in replicas with a
    # flat per-row cost), and the Stupid-Backoff LM as gram-keyed
    # counts + scoring joins (the corpus-sized explode dominates;
    # model tables stay vocabulary-bounded as replicas grow because
    # replica tags only add n new types per base word).
    if want("c4_rules_report", "lm_stupid_backoff_scored"):
        from smartpipeline_spark.functions.curation import (
            c4_quality_rules,
            stupid_backoff_scores,
        )

        # line-ify the replicated corpus in-plan (wrap every 6 words)
        # so the battery judges real multi-line pages, not 1-line rows
        paged = docs.select(
            "doc_id",
            F.regexp_replace(
                "text", r"(\S+ \S+ \S+ \S+ \S+ \S+) ", "$1.\n"
            ).alias("text"),
        )
        timed(
            "c4_rules_report",
            lambda: c4_quality_rules(paged).filter("keep").count(),
        )
        timed(
            "lm_stupid_backoff_scored",
            lambda: stupid_backoff_scores(docs).count(),
        )

    # --- TPC-H fact-replication block: the same join/agg plans the
    # suite pins (one fact-fact exchange, broadcast dims) must hold
    # their shape as the fact side multiplies N-fold. Order keys are
    # remapped (k*n + r) so the lineitem⋈orders key space replicates
    # consistently; dimensions stay at 1x, exactly like production
    # (facts grow, dims don't).
    if want("tpch_q5_replicated", "tpch_q18_replicated",
             "tpch_q9_replicated"):
        li = sources.table(spark, "lineitem", sf_dir)
        o = sources.table(spark, "orders", sf_dir)
        rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r")
        li_n = li.select(rep, "*").withColumn(
            "l_orderkey", F.col("l_orderkey") * n + F.col("r")
        ).drop("r").repartition(32).persist()
        o_n = o.select(rep, "*").withColumn(
            "o_orderkey", F.col("o_orderkey") * n + F.col("r")
        ).drop("r").repartition(32).persist()
        counts["fact_lineitem_rows"] = li_n.count()
        counts["fact_orders_rows"] = o_n.count()

        s = sources.table(spark, "supplier", sf_dir)
        nt = sources.table(spark, "nation", sf_dir)
        rg = sources.table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
        c = sources.table(spark, "customer", sf_dir)

        def tpch_q5():
            od = F.to_date("o_orderdate")
            of = o_n.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1997-01-01").cast("date"))
            )
            j = (
                li_n.join(of, li_n.l_orderkey == of.o_orderkey)
                .join(F.broadcast(s), li_n.l_suppkey == s.s_suppkey)
                .join(
                    F.broadcast(c),
                    (of.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
                )
                .join(F.broadcast(nt), s.s_nationkey == nt.n_nationkey)
                .join(F.broadcast(rg), nt.n_regionkey == rg.r_regionkey)
            )
            rev = (
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).cast("decimal(28,12)")
            return j.groupBy("n_name").agg(F.sum(rev).alias("revenue")).count()

        def tpch_q18():
            big = (
                li_n.groupBy("l_orderkey")
                .agg(F.sum("l_quantity").alias("tq"))
                .filter(F.col("tq") > 250)
                .select("l_orderkey")
            )
            return (
                li_n.join(
                    big.withColumnRenamed("l_orderkey", "bk"),
                    F.col("l_orderkey") == F.col("bk"),
                    "left_semi",
                )
                .join(o_n, F.col("l_orderkey") == o_n.o_orderkey)
                .groupBy("o_orderkey")
                .agg(F.sum("l_quantity").alias("sq"))
                .count()
            )

        def tpch_q9():
            from smartpipeline_spark.operators.tpch import derived_partsupp

            ps = derived_partsupp(spark, sf_dir)
            p = sources.table(spark, "part", sf_dir).filter(
                F.col("p_name").like("%red%")
            )
            j = (
                li_n.join(o_n, li_n.l_orderkey == o_n.o_orderkey)
                .join(F.broadcast(p), li_n.l_partkey == p.p_partkey)
                .join(
                    F.broadcast(ps),
                    (li_n.l_partkey == ps.ps_partkey)
                    & (li_n.l_suppkey == ps.ps_suppkey),
                )
                .join(F.broadcast(s), li_n.l_suppkey == s.s_suppkey)
                .join(F.broadcast(nt), s.s_nationkey == nt.n_nationkey)
            )
            amount = (
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                - F.col("ps_supplycost") * F.col("l_quantity")
            ).cast("decimal(28,12)")
            return (
                j.select(
                    "n_name", F.year(F.to_date("o_orderdate")).alias("y"), amount.alias("a")
                )
                .groupBy("n_name", "y")
                .agg(F.sum("a").alias("profit"))
                .count()
            )

        timed("tpch_q5_replicated", tpch_q5)
        timed("tpch_q18_replicated", tpch_q18)
        timed("tpch_q9_replicated", tpch_q9)

    # --- TPC-H big-dimension block (guide §3.2): the flagship plans
    # broadcast every dimension because fixture dims are tiny; the
    # block above deliberately keeps dims at 1x, so the one posture it
    # can never exercise is the dimension that SCALES past the
    # broadcast cap. Here part replicates alongside lineitem (same
    # k*n+r key remap) and the Q9-shaped li(partkey)⋈part('%red%',
    # 12.9% selective) leg is measured three ways:
    #   plain — as written, no hints: whatever the planner picks once
    #           the filtered dim no longer broadcasts
    #   bloom — SPARK-32268 runtime Bloom injection given room to fire
    #           (creation/application thresholds opened; the guide's
    #           caveat — with default thresholds it "frequently does
    #           not fire when you expect it to" — is what the plain
    #           variant documents)
    #   semi  — the manual §3.2 recipe: prune the fact side with a
    #           broadcast LEFT SEMI join on the filtered dim's DISTINCT
    #           KEYS before the join (keys-only broadcast stays far
    #           under the cap even when the dim itself does not)
    # Every variant must return the same aggregate (25 brands); each
    # records its join strategy, whether might_contain fired, and the
    # per-variant shuffle-write/CPU deltas from the status API.
    if want("tpch_q9_bigdim_plain", "tpch_q9_bigdim_bloom",
            "tpch_q9_bigdim_semi"):
        # repartition BEFORE the explode (the BM25-build lesson): the
        # 11MB lineitem parquet arrives in 3 scan splits, so exploding
        # first leaves one task holding a ~205M-row tail at 1024x
        li = sources.table(spark, "lineitem", sf_dir).repartition(32)
        p = sources.table(spark, "part", sf_dir).repartition(32)
        rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r")
        li_f = li.select(
            rep, "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount",
        ).withColumn(
            "l_partkey", F.col("l_partkey") * n + F.col("r")
        ).drop("r")
        p_big = p.select(rep, "*").withColumn(
            "p_partkey", F.col("p_partkey") * n + F.col("r")
        ).drop("r")
        from smartpipeline_spark import materialize

        li_f = materialize.persist(li_f)
        p_big = materialize.persist(p_big)
        counts["bigdim_lineitem_rows"] = li_f.count()
        counts["bigdim_part_rows"] = p_big.count()

        def _stageshot():
            try:
                import urllib.request as _rq

                url = (
                    f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
                    f"{spark.sparkContext.applicationId}/stages"
                )
                with _rq.urlopen(url, timeout=10) as resp:
                    stages = json.load(resp)
                return {
                    (s["stageId"], s.get("attemptId", 0)): (
                        s.get("executorCpuTime", 0),
                        s.get("shuffleWriteBytes", 0),
                        s.get("memoryBytesSpilled", 0)
                        + s.get("diskBytesSpilled", 0),
                    )
                    for s in stages
                }
            except Exception:
                return None

        def _q9_leg():
            dim = p_big.filter(F.col("p_name").like("%red%"))
            rev = (
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).cast("decimal(28,12)")
            return dim, rev

        def _bigdim_variant(name, build, confs=None):
            if ops is not None and name not in ops:
                return
            saved = {}
            for ck, cv in (confs or {}).items():
                try:
                    saved[ck] = spark.conf.get(ck)
                except Exception:
                    saved[ck] = None
                spark.conf.set(ck, cv)
            try:
                before = _stageshot()
                t0 = time.monotonic()
                df = build()
                counts[name] = df.count()
                timings[name] = round(time.monotonic() - t0, 2)
                after = _stageshot()
                plan = df._jdf.queryExecution().executedPlan().toString()
                counts[name + "_join"] = (
                    f"bhj={plan.count('BroadcastHashJoin')}"
                    f" shj={plan.count('ShuffledHashJoin')}"
                    f" smj={plan.count('SortMergeJoin')}"
                )
                counts[name + "_bloom_fired"] = int("might_contain" in plan)
                if before is not None and after is not None:
                    z = (0, 0, 0)
                    counts[name + "_cpu_s"] = round(
                        sum(v[0] - before.get(k, z)[0] for k, v in after.items())
                        / 1e9, 1,
                    )
                    counts[name + "_shuffle_write_gb"] = round(
                        sum(v[1] - before.get(k, z)[1] for k, v in after.items())
                        / 2**30, 2,
                    )
                    counts[name + "_spill_gb"] = round(
                        sum(v[2] - before.get(k, z)[2] for k, v in after.items())
                        / 2**30, 2,
                    )
            finally:
                for ck, cv in saved.items():
                    if cv is None:
                        spark.conf.unset(ck)
                    else:
                        spark.conf.set(ck, cv)

        def _plain():
            dim, rev = _q9_leg()
            return (
                li_f.join(dim, li_f.l_partkey == dim.p_partkey)
                .groupBy("p_brand").agg(F.sum(rev).alias("revenue"))
            )

        def _semi():
            dim, rev = _q9_leg()
            keys = dim.select("p_partkey").distinct()
            pruned = li_f.join(
                F.broadcast(keys),
                li_f.l_partkey == keys.p_partkey,
                "left_semi",
            )
            return (
                pruned.join(dim, pruned.l_partkey == dim.p_partkey)
                .groupBy("p_brand").agg(F.sum(rev).alias("revenue"))
            )

        _bigdim_variant("tpch_q9_bigdim_plain", _plain)
        _bigdim_variant(
            "tpch_q9_bigdim_bloom",
            _plain,
            confs={
                # the two gates the guide names as the reason auto-
                # injection "frequently does not fire": creation side
                # must estimate under 10MB, application side's scan
                # over 10GB — both far from this regime's reality
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "64MB",
                # size for the 1024x rung's 2.6M filtered keys (the
                # 1M-item/8M-bit defaults would run ~25% fpp there)
                "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems": "4000000",
                "spark.sql.optimizer.runtime.bloomFilter.numBits": "33554432",
            },
        )
        _bigdim_variant("tpch_q9_bigdim_semi", _semi)

    # --- ANN block: IVF retrieval as the embedding corpus multiplies
    # N-fold with NEAR-duplicate vectors (each base vector gets N-1
    # slightly perturbed twins — maximum cell crowding, the ANN analog
    # of the near-dup corpus above). The contract under test: training
    # stays constant-cost (bounded sample), assignment stays one linear
    # pass, and the scored candidate volume tracks cell occupancy
    # (linear in corpus), never all-pairs.
    if want("ann_ivf_topk"):
        from smartpipeline_spark.functions import similarity as sim

        e = sim._emb(spark, sf_dir)
        rep_e = (
            e.select(
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
                "vec_id",
                "emb",
            )
            .select(
                (F.col("vec_id") * n + F.col("r")).alias("vec_id"),
                F.expr(
                    "transform(emb, (x, i) -> x * (1.0 + 0.002 * r"
                    " * (CAST(i % 3 AS DOUBLE) - 1.0)))"
                ).alias("emb"),
            )
            .repartition(32)
            .persist()
        )
        counts["ann_corpus_vectors"] = rep_e.count()

        def ann_ivf_topk():
            cents = sim._ivf_centroids(rep_e)
            keyed = sim._ivf_keyed(rep_e, cents)
            probe = sim._ivf_cells_udf(cents, sim._IVF_NPROBE)
            q = rep_e.filter(
                (F.col("vec_id") % n == 0) & (F.col("vec_id") < sim.N_QUERIES * n)
            ).select(
                F.col("vec_id").alias("query_id"),
                F.col("emb").alias("q_emb"),
                F.explode(probe(F.col("emb"))).alias("cell"),
            )
            return sim._exact_topk(sim._ivf_candidates(keyed, q)).count()

        timed("ann_ivf_topk", ann_ivf_topk)

    # --- batched model inference (the reference's flagship BatchStage
    # use case, README.rst:102-113) at rung scale: a deterministic
    # numpy "embedding model" (byte-histogram features x a fixed
    # 64x32 MLP) loads ONCE per executor Python worker via on_start
    # and scores Arrow-sized batches inside the Pipeline-compiled
    # mapInPandas — the throughput number is docs/sec through the
    # full Stage surface (item wrap, error channels, timing columns),
    # not a bare UDF. Scale expectation: pure map work, exponent ~1.
    if want("batch_inference_scored"):
        from smartpipeline_spark import BatchStage, Pipeline

        class _EmbMLP(BatchStage):
            output_fields = {"score": "double"}

            def __init__(self):
                super().__init__(size=1024)
                self._w = None

            def on_start(self):
                import numpy as _np

                rng = _np.random.default_rng(7)
                self._w1 = rng.standard_normal((64, 32))
                self._w2 = rng.standard_normal((32, 1))

            def process_batch(self, items):
                import numpy as _np

                feats = _np.zeros((len(items), 64), dtype=_np.float64)
                for i, it in enumerate(items):
                    b = (it.data["text"] or "").encode()[:4096]
                    if b:
                        hist = _np.bincount(
                            _np.frombuffer(b, dtype=_np.uint8) % 64, minlength=64
                        )
                        feats[i] = hist / len(b)
                out = _np.tanh(feats @ self._w1) @ self._w2
                for it, s in zip(items, out[:, 0]):
                    it.data["score"] = float(s)
                return items

        def _infer():
            pipe = Pipeline(spark).set_source(docs).append("emb_mlp", _EmbMLP())
            return pipe.dataframe().filter(F.col("score").isNotNull()).count()

        timed("batch_inference_scored", _infer)
        if "batch_inference_scored" in timings and timings["batch_inference_scored"]:
            counts["batch_inference_docs_per_sec"] = int(
                counts["batch_inference_scored"] / timings["batch_inference_scored"]
            )

    # --- RAG retrieval rung (r10 verdict stretch #7): the MMR-complete
    # retrieval stack — BM25 lexical ranker + saved-IVF ANN + RRF
    # fusion + MMR diversification — at rung scale with a queries/s
    # number, composed ENTIRELY from the library surface the way a
    # user would: build_ivf_index pays the layout once (timed
    # separately as rag_index_build), then the timed op runs a
    # 32-query batch end to end. Scale shape: the lexical leg is one
    # postings-pruned corpus pass shared by the batch; the vector leg
    # opens only the probed cell directories of the saved index; the
    # fusion joins two 50-row-per-query survivor frames; MMR re-ranks
    # a bounded pool per query in one applyInPandas group.
    if want("rag_retrieval_qps"):
        import shutil
        import tempfile

        from smartpipeline_spark.functions.similarity import (
            HYBRID_POOL,
            RRF_K,
            build_ivf_index,
            mmr_diversify,
            query_ivf_index,
        )
        from smartpipeline_spark.functions.text import (
            BM25_TERMS,
            build_bm25_index,
            query_bm25_index,
        )

        n_queries = 32
        emb_base = sources.table(spark, "embeddings", sf_dir)
        emb_n = (
            emb_base.select(
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
                "vec_id",
                "embedding",
            )
            .select(
                (F.col("vec_id") * n + F.col("r")).alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("emb"),
            )
            .repartition(32)
            .persist()
        )
        counts["rag_corpus_vectors"] = emb_n.count()
        rag_docs = sources.table(spark, "documents", sf_dir).select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
            "doc_id",
            "text",
        ).select(
            (F.col("doc_id") * n + F.col("r")).alias("doc_id"),
            F.concat("text", F.lit(" rtag"), F.col("r").cast("string")).alias(
                "text"
            ),
        )
        work = tempfile.mkdtemp(prefix="rag_rung_")
        t0 = time.monotonic()
        build_ivf_index(emb_n, f"{work}/ivf")
        counts["rag_index_build_s"] = round(time.monotonic() - t0, 2)
        # r11: the lexical leg is served from the persisted BM25
        # postings index too (build once, probe footers per batch) —
        # pre-index both modalities, query both from layouts
        t0 = time.monotonic()
        build_bm25_index(rag_docs, f"{work}/bm25")
        counts["rag_bm25_build_s"] = round(time.monotonic() - t0, 2)
        queries_df = (
            emb_base.filter(F.col("vec_id") < n_queries)
            .select(
                (F.col("vec_id") * n).alias("query_id"),
                F.col("embedding").cast("array<double>").alias("q_emb"),
            )
            .localCheckpoint(eager=True)
        )

        def _rag_batch():
            from pyspark.sql import Window

            # lexical leg: footer-pruned probe of the SAVED postings
            # index, batch-shared (was a full corpus pass pre-index:
            # 95.5s/0.33qps at 256x)
            lex_scored = query_bm25_index(
                spark, f"{work}/bm25", BM25_TERMS
            ).select(
                "doc_id",
                (F.floor(F.col("raw") * 10000.0 + 0.5) / 10000.0).alias("bm25"),
            )
            w_lex = Window.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
            lex = (
                lex_scored.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
                .limit(HYBRID_POOL)
                .withColumn("r_lex", F.row_number().over(w_lex))
                .select("doc_id", "r_lex")
            )
            # vector leg: the 32-query batch against the saved index
            ann = query_ivf_index(spark, f"{work}/ivf", queries_df)
            w_vec = Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.asc("neighbor_id")
            )
            vec = (
                ann.withColumn("r_vec", F.row_number().over(w_vec))
                .filter(F.col("r_vec") <= HYBRID_POOL)
                .select("query_id", F.col("neighbor_id").alias("doc_id"), "r_vec")
            )
            # RRF fusion per query (lexical list is batch-shared)
            fused = (
                vec.join(F.broadcast(lex), "doc_id", "full_outer")
                .withColumn(
                    "rrf",
                    F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0))
                    + F.coalesce(
                        1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0)
                    ),
                )
                .filter(F.col("query_id").isNotNull())
            )
            # MMR diversification over each query's fused pool
            pool = fused.join(
                emb_n.withColumnRenamed("vec_id", "doc_id"), "doc_id"
            ).select(
                "query_id",
                F.col("doc_id").alias("neighbor_id"),
                (F.floor(F.col("rrf") * 1000000.0 + 0.5) / 1000000.0).alias(
                    "rel"
                ),
                "emb",
            )
            out = mmr_diversify(pool)
            return out.count()

        timed("rag_retrieval_qps", _rag_batch)
        if timings.get("rag_retrieval_qps"):
            counts["rag_queries_per_sec"] = round(
                n_queries / timings["rag_retrieval_qps"], 2
            )
        emb_n.unpersist()
        shutil.rmtree(work, ignore_errors=True)

    # --- end-to-end streaming ingest (the reference's flagship
    # "pipeline of stages" story, README.rst:26-40, at rung scale):
    # r12 index-maintenance rung: the append-accumulating BM25 layout's
    # full lifecycle at scale — build, probe, N appends (compaction
    # deferred so the degradation is MEASURED, not hidden), probe the
    # multi-segment layout, compact (reader-safe manifest flip), probe
    # again. The interesting numbers: query wall 1-segment vs
    # (1+N)-segment vs compacted, and the compact cost itself.
    if want(
        "bm25_index_maintenance",
        "bm25_maint_build",
        "bm25_maint_query_1seg",
        "bm25_maint_appends4",
        "bm25_maint_query_5seg",
        "bm25_maint_compact",
        "bm25_maint_query_compacted",
    ):
        import shutil
        import tempfile

        from smartpipeline_spark.functions.text import (
            append_to_bm25_index,
            build_bm25_index,
            query_bm25_index,
        )

        base_docs = sources.table(spark, "documents", sf_dir).select(
            "doc_id", "text"
        )
        n_base = base_docs.count()
        rep = base_docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
            "doc_id",
            "text",
        ).select(
            (F.col("doc_id") * n + F.col("r")).alias("doc_id"),
            F.concat(
                "text", F.lit(" rtag"), F.col("r").cast("string")
            ).alias("text"),
        )
        work = tempfile.mkdtemp(prefix="bm25_maint_rung_")
        idxp = f"{work}/idx"
        timed("bm25_maint_build", lambda: build_bm25_index(rep, idxp)["n_docs"])
        timed(
            "bm25_maint_query_1seg",
            lambda: query_bm25_index(spark, idxp, k=100).count(),
        )
        app_off = n_base * n

        def _appends():
            segs = None
            for j in range(4):
                batch = base_docs.select(
                    (F.col("doc_id") + F.lit(app_off + j * n_base)).alias(
                        "doc_id"
                    ),
                    F.concat("text", F.lit(f" atag{j}")).alias("text"),
                )
                segs = append_to_bm25_index(batch, idxp)
            return len(segs["segments"])

        timed("bm25_maint_appends4", _appends)
        timed(
            "bm25_maint_query_5seg",
            lambda: query_bm25_index(spark, idxp, k=100).count(),
        )

        def _compact():
            counts["bm25_maint_compact_report"] = indexstore.compact(spark, idxp)
            return 1

        timed("bm25_maint_compact", _compact)
        timed(
            "bm25_maint_query_compacted",
            lambda: query_bm25_index(spark, idxp, k=100, verify=True).count(),
        )
        shutil.rmtree(work, ignore_errors=True)

    # r12 WIDENED ingest rung (the r11 memory candidate): the full
    # incremental-ingestion shape against a PERSISTED dedup index.
    # Quality gate runs in the streaming plan; each micro-batch then
    # (a) dedups exact+near AGAINST the index seeded from the base
    # corpus (dedup_against, append=True — availableNow micro-batches
    # are serial, satisfying the single-writer append contract), (b)
    # classifier-scores the survivors, (c) CDC-chunks the kept docs
    # (the storage-dedup fingerprint accounting a delta-sync layer
    # keys on), and (d) appends to the curated sink. The index GROWS
    # by each batch's fp-new signatures, so later batches join a
    # bigger index — the honest 100 TB ingestion curve.
    if want("streaming_ingest_incremental"):
        import shutil
        import tempfile

        from smartpipeline_spark import Pipeline
        from smartpipeline_spark.functions.curation import (
            assign_split,
            classifier_scores,
            load_classifier,
            save_classifier,
            train_text_classifier,
        )
        from smartpipeline_spark.functions.dedup import (
            build_dedup_index,
            cdc_chunks,
            dedup_against,
        )
        from smartpipeline_spark.functions.text import quality_expr

        work = tempfile.mkdtemp(prefix="ingest_inc_rung_")
        src, sink, ckpt, idx = (
            f"{work}/drop",
            f"{work}/curated",
            f"{work}/ckpt",
            f"{work}/idx",
        )
        base_docs = sources.table(spark, "documents", sf_dir).select(
            "doc_id", "lang", "text"
        )
        t0 = time.monotonic()
        seed = build_dedup_index(spark, base_docs.select("doc_id", "text"), idx)
        counts["ingest_inc_index_seed"] = seed
        counts["ingest_inc_index_seed_s"] = round(time.monotonic() - t0, 2)
        id_off = base_docs.agg(F.max("doc_id")).collect()[0][0] + 1
        full = base_docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
            "doc_id",
            "lang",
            "text",
        ).select(
            (F.col("doc_id") * n + F.col("r") + F.lit(id_off)).alias("doc_id"),
            "lang",
            F.concat(
                "text", F.lit(" rtag"), F.col("r").cast("string")
            ).alias("text"),
        )
        full.repartition(32).write.mode("overwrite").parquet(src)
        n_in = spark.read.parquet(src).count()

        labeled = base_docs.withColumn(
            "label",
            F.coalesce(F.col("text").contains("vector").cast("int"), F.lit(0)),
        )
        train = assign_split(labeled).filter(F.col("split") == "train")
        save_classifier(
            train_text_classifier(train.select("text", "label"), iters=10),
            f"{work}/inc_model",
        )
        inc_model = load_classifier(f"{work}/inc_model")
        inc_batches: list[dict] = []

        def _curate_batch(batch_df, batch_id):
            bt0 = time.monotonic()
            survivors = dedup_against(
                spark, idx, batch_df.select("doc_id", "text"), append=True
            )
            scored = classifier_scores(
                survivors, inc_model, passthrough=True
            ).filter(F.col("prob") >= 0.5)
            scored = scored.persist()
            try:
                kept = scored.count()
                n_chunks = cdc_chunks(scored).count()
                scored.write.mode("append").parquet(sink)
            finally:
                scored.unpersist()
            inc_batches.append(
                {
                    "batch": batch_id,
                    "rows_in": batch_df.count(),
                    "kept": kept,
                    "cdc_chunks": n_chunks,
                    "wall_s": round(time.monotonic() - bt0, 2),
                }
            )

        def _ingest_inc():
            stream = (
                spark.readStream.schema(spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 8)
                .parquet(src)
            )
            q = (
                Pipeline(spark)
                .set_source(stream)
                .transform(
                    "quality_gate",
                    lambda df: df.withColumn("quality", quality_expr()).filter(
                        "quality >= 0.7"
                    ),
                )
                .build()
                .start_stream(ckpt, sink=_curate_batch, available_now=True)
            )
            q.awaitTermination()
            return spark.read.parquet(sink).count()

        timed("streaming_ingest_incremental", _ingest_inc)
        if timings.get("streaming_ingest_incremental"):
            counts["ingest_inc_docs_in"] = n_in
            counts["ingest_inc_docs_per_sec"] = int(
                n_in / timings["streaming_ingest_incremental"]
            )
            counts["ingest_inc_batches"] = inc_batches
            counts["ingest_inc_index_sigs_final"] = indexstore.rows(
                indexstore.manifest(idx), "signatures"
            )
        shutil.rmtree(work, ignore_errors=True)

    # file-drop source -> quality gate -> checkpointed streaming exact
    # dedup (stateful: one md5 per doc in the state store) -> trained-
    # classifier scoring under a persisted model -> lang-partitioned
    # parquet sink, drained availableNow through Pipeline.start_stream.
    # Timed end to end EXCLUDING the one-time offline model training
    # and the landing-zone write (production trains offline and the
    # drop already exists); docs/s is input docs through the full
    # curation chain to committed parquet. State-store sizing per the
    # stateful-stream contract: shuffle partitions scoped to 32 for
    # the drain (state partition count binds at first checkpoint; each
    # costs state-store files per trigger) and restored after.
    if want("streaming_ingest_curated"):
        import shutil
        import tempfile

        from smartpipeline_spark import Pipeline
        from smartpipeline_spark.functions.curation import (
            assign_split,
            classifier_scores,
            load_classifier,
            save_classifier,
            train_text_classifier,
        )
        from smartpipeline_spark.functions.dedup import _norm_text
        from smartpipeline_spark.functions.text import quality_expr

        work = tempfile.mkdtemp(prefix="ingest_rung_")
        src, sink, ckpt = f"{work}/drop", f"{work}/curated", f"{work}/ckpt"
        base_docs = sources.table(spark, "documents", sf_dir).select(
            "doc_id", "lang", "text"
        )
        full = base_docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("r"),
            "doc_id",
            "lang",
            "text",
        ).select(
            (F.col("doc_id") * n + F.col("r")).alias("doc_id"),
            "lang",
            F.concat(
                "text", F.lit(" rtag"), F.col("r").cast("string")
            ).alias("text"),
        )
        # landing zone: 32 files so maxFilesPerTrigger=8 gives 4
        # micro-batches (trigger count constant across rungs — the
        # exponent measures per-doc work, not trigger overhead)
        full.repartition(32).write.mode("overwrite").parquet(src)
        n_in = spark.read.parquet(src).count()

        labeled = base_docs.withColumn(
            "label",
            F.coalesce(F.col("text").contains("vector").cast("int"), F.lit(0)),
        )
        train = assign_split(labeled).filter(F.col("split") == "train")
        # save/load treat the path as a DIRECTORY (the classifier json
        # lands under it) — name it like one
        save_classifier(
            train_text_classifier(train.select("text", "label"), iters=10),
            f"{work}/model",
        )
        model = load_classifier(f"{work}/model")

        def gate(df):
            # the library's quality expression — one source of truth
            # for the C4/Gopher weights (ADVICE r10)
            return df.withColumn("quality", quality_expr()).filter("quality >= 0.7")

        def dedup(df):
            return df.withColumn("fp", F.md5(_norm_text())).dropDuplicates(["fp"])

        def score(df):
            return classifier_scores(df, model, passthrough=True).filter(
                F.col("prob") >= 0.5
            )

        def _ingest():
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            # state partitions bind at first checkpoint; r11 makes the
            # width an experiment knob (--state-parts=N) for the CPU-
            # exponent root-cause ladder (r10 verdict #3); default 32 =
            # the r10 configuration
            sp = next(
                (a for a in sys.argv[1:] if a.startswith("--state-parts=")),
                None,
            )
            state_parts = int(sp.split("=", 1)[1]) if sp else 32
            spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
            counts["streaming_ingest_state_parts"] = state_parts
            try:
                stream = (
                    spark.readStream.schema(spark.read.parquet(src).schema)
                    .option("maxFilesPerTrigger", 8)
                    .parquet(src)
                )
                q = (
                    Pipeline(spark)
                    .set_source(stream)
                    .transform("quality_gate", gate)
                    .transform("dedup", dedup)
                    .transform("classifier_score", score)
                    .build()
                    .start_stream(
                        ckpt, sink=sink, available_now=True,
                        partition_by=("lang",),
                    )
                )
                q.awaitTermination()
                # per-micro-batch state-store telemetry (r10 verdict
                # #3): where does the CPU exponent live — row
                # processing (addBatch), state updates, or state
                # commit? recentProgress survives termination.
                prog = []
                for p in q.recentProgress:
                    so = (p.get("stateOperators") or [{}])[0]
                    dur = p.get("durationMs") or {}
                    prog.append(
                        {
                            "batch": p.get("batchId"),
                            "rows_in": p.get("numInputRows"),
                            "addBatch_ms": dur.get("addBatch"),
                            "state_rows_total": so.get("numRowsTotal"),
                            "state_updated": so.get("numRowsUpdated"),
                            "updates_ms": so.get("allUpdatesTimeMs"),
                            "removes_ms": so.get("allRemovalsTimeMs"),
                            "commit_ms": so.get("commitTimeMs"),
                            "state_mem_bytes": so.get("memoryUsedBytes"),
                        }
                    )
                counts["streaming_ingest_progress"] = prog
                return spark.read.parquet(sink).count()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)

        timed("streaming_ingest_curated", _ingest)
        if timings.get("streaming_ingest_curated"):
            counts["streaming_ingest_docs_in"] = n_in
            counts["streaming_ingest_docs_per_sec"] = int(
                n_in / timings["streaming_ingest_curated"]
            )
        shutil.rmtree(work, ignore_errors=True)

    out = {"n_docs": n_docs, "replicas": n, "timings": timings, "counts": counts}
    if "--metrics" in sys.argv:
        # load-independent adjudication evidence (the r8 lesson: on a
        # bursty shared host, wall-clock exponents are judged against
        # executor CPU time and spill volume from the status API,
        # which survive contention)
        try:
            import urllib.request

            base = spark.sparkContext.uiWebUrl
            app_id = spark.sparkContext.applicationId
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages"
            ) as resp:
                stages = json.load(resp)
            out["metrics"] = {
                "executorCpuSec": round(
                    sum(s.get("executorCpuTime", 0) for s in stages) / 1e9, 1
                ),
                "executorRunSec": round(
                    sum(s.get("executorRunTime", 0) for s in stages) / 1e3, 1
                ),
                "memSpillGB": round(
                    sum(s.get("memoryBytesSpilled", 0) for s in stages) / 2**30, 2
                ),
                "diskSpillGB": round(
                    sum(s.get("diskBytesSpilled", 0) for s in stages) / 2**30, 2
                ),
                "shuffleWriteGB": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**30, 2
                ),
            }
        except Exception as exc:  # metrics must never sink the smoke
            out["metrics_error"] = str(exc)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
