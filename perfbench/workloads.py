"""The two workloads. Each runs in its own process with one
``get_spark()`` session and a single closed-loop client: one call in
flight, the next sent when the previous returns.

A run is: set-up (session, inputs, one untimed warm-up call), a timed
phase of back-to-back calls, output checks, then counters read from the
status API. A traced run adds a second, traced phase and per-layer
measurements after the untraced one, so end-to-end numbers always come
from untraced calls.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import corpus as corpus_mod
from perfbench import sparkstats
from perfbench.sparkstats import median, quantile
from perfbench.trace import Tracer

#: corpus size shared by every workload (4 files of FILE_ROWS docs)
CORPUS_DOCS = 20_000
#: query_mix's fixed key list in pass order, with the tables each key
#: reads. The pass opens with the key whose time varied least between
#: runs of one seed, because its time is the pass's first_item_ms.
#: q38_tpch_q5 disagrees with its DuckDB oracle on the seeds where a
#: nation's exact revenue sum ends in half a cent (seed 203 is one); such
#: a run counts every pass as failed, see perfbench/METRICS.md.
QUERY_KEYS = {
    "ext_dedup_minhash": ("documents",),
    "q11_agg_pricing_summary": ("lineitem",),
    "q38_tpch_q5": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q15_window_topk": ("orders",),
    "ext_c4_rules": ("documents",),
    "ext_knn_bruteforce": ("embeddings",),
}
E2E = ("setup_s", "items_per_s", "wall_s", "first_item_ms", "batch_p50_ms")
#: per-item microbenchmarks of the wrapper run over this many corpus rows
_KERNEL_ROWS = 5000


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Call:
    """One timed call and what the checks and counters need from it."""

    start: float = 0.0  # epoch seconds, to match status-API job times
    end: float = 0.0
    wall: float = 0.0
    items: int = 0
    first_ms: float = 0.0
    raised: bool = False
    failed: int = 0  # outputs of this call that failed their check
    build_ms: float = 0.0
    out: str = ""
    windows: dict = field(default_factory=dict)  # sub-call name -> (start, end)
    key_s: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)  # stream progress dicts
    soft: int = 0
    retried: int = 0


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(run_id=f"{self.name}-{seed}-{os.getpid()}")
        self.setup_parts: dict[str, float] = {}
        self.n_calls = 0

    # -- set-up --------------------------------------------------------
    def setup(self) -> float:
        from smartpipeline_spark import get_spark

        self.tracer.enabled = self.trace
        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.name}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
        self.setup_parts["get_spark_s"] = time.perf_counter() - t
        self.cores = self.spark.sparkContext.defaultParallelism
        t = time.perf_counter()
        with self.tracer.span("inputs.generate"):
            self.corpus = corpus_mod.generate(self.seed, CORPUS_DOCS)
            self.corpus_dir = os.path.join(self.work, "corpus")
            self.corpus.write_parquet(self.corpus_dir)
            self.prepare()
        self.setup_parts["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("session.warmup"):
            self.warmup()
        self.setup_parts["warmup_s"] = time.perf_counter() - t
        self.tracer.enabled = False
        return process_age_s()

    def prepare(self) -> None:
        """Inputs beyond the shared corpus."""

    def warmup(self) -> None:
        self.call(Call())

    # -- the timed phase -------------------------------------------------
    def phase(self, traced: bool) -> list[Call]:
        self.tracer.enabled = traced
        calls: list[Call] = []
        t0 = time.perf_counter()
        while not calls or time.perf_counter() - t0 < self.seconds:
            rec = Call(start=time.time())
            p0 = time.perf_counter()
            try:
                with self.tracer.span("call"):
                    self.call(rec)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec.raised = True
            rec.wall = time.perf_counter() - p0
            rec.end = time.time()
            calls.append(rec)
        self.tracer.enabled = False
        return calls

    def call(self, rec: Call) -> None:
        raise NotImplementedError

    def check(self, calls: list[Call]) -> None:
        """Set ``failed`` on each call whose output is wrong."""

    def attempted(self, calls: list[Call]) -> int:
        return len(calls)

    def failures(self, calls: list[Call]) -> int:
        return sum(1 if c.raised else c.failed for c in calls)

    # -- metrics ---------------------------------------------------------
    def e2e(self, calls: list[Call]) -> dict[str, float]:
        ok = [c for c in calls if not c.raised]
        busy = sum(c.wall for c in ok)
        return {
            "items_per_s": sum(c.items for c in ok) / busy if busy else 0.0,
            "wall_s": median([c.wall for c in ok]),
            "first_item_ms": median([c.first_ms for c in ok]),
            "batch_p50_ms": self.batch_p50_ms(ok),
        }

    def batch_p50_ms(self, calls: list[Call]) -> float:
        raise NotImplementedError

    def layers(self, calls: list[Call], snap: sparkstats.Snapshot) -> dict[str, float]:
        """Per-layer metrics of the traced phase."""
        ok = [c for c in calls if not c.raised]
        n = max(len(ok), 1)
        cnt = snap.counters([(c.start, c.end) for c in ok])
        out = {f"spark.{k}": v / n for k, v in cnt.items()}
        busy = sum(c.wall for c in ok)
        out["spark.busy_share"] = cnt["executor_run_s"] / (busy * self.cores) if busy else 0.0
        out["session.get_spark_s"] = self.setup_parts["get_spark_s"]
        out["session.warmup_s"] = self.setup_parts["warmup_s"]
        rss, heap = sparkstats.jvm_memory_mb(self.spark)
        out["session.driver_rss_mb"] = rss
        out["session.jvm_heap_peak_mb"] = heap
        with self.tracer.span("sources.scan"):
            out["sources.scan_s"] = median([self.scan() for _ in range(3)])
        out["pipeline.build_ms"] = median([c.build_ms for c in ok])
        out["wrapper.soft_errors"] = float(ok[-1].soft) if ok else 0.0
        out["wrapper.retries"] = float(ok[-1].retried) if ok else 0.0
        return out

    def scan(self) -> float:
        """Seconds for a scan-only noop job over this workload's input."""
        raise NotImplementedError

    def wrapper_layers(self) -> dict[str, float]:
        """The stage wrapper timed on the driver over a fixed row list:
        ``run_chain_on_items`` alone, and ``compile_chain``'s function
        over the same rows as one pandas batch (conversion included)."""
        import pandas as pd

        from perfbench.chain import local_steps
        from smartpipeline_spark import ErrorManager, Item
        from smartpipeline_spark.wrapper import (
            ERRORS_COL, TIMINGS_COL, compile_chain, run_chain_on_items,
        )

        c = self.corpus
        rows = [
            {"doc_id": c.doc_id[i], "text": c.text[i], "flag": c.flag[i]}
            for i in range(_KERNEL_ROWS)
        ]
        kernel, chain = [], []
        payload = ["doc_id", "text", "flag"]
        out_cols = payload + ["norm", "attempts", "n_tokens", "digest", ERRORS_COL, TIMINGS_COL]
        for _ in range(3):
            items = [Item(r) for r in rows]
            with self.tracer.span("wrapper.kernel"):
                t = time.perf_counter()
                run_chain_on_items(local_steps(), items, ErrorManager())
                kernel.append(time.perf_counter() - t)
            pdf = pd.DataFrame(rows)
            pdf[ERRORS_COL] = [[] for _ in rows]
            pdf[TIMINGS_COL] = None
            fn = compile_chain(local_steps(), payload, out_cols, ErrorManager())
            with self.tracer.span("wrapper.chain"):
                t = time.perf_counter()
                for _out in fn(iter([pdf])):
                    pass
                chain.append(time.perf_counter() - t)
        return {
            "wrapper.kernel_us_per_item": median(kernel) / _KERNEL_ROWS * 1e6,
            "wrapper.chain_us_per_item": median(chain) / _KERNEL_ROWS * 1e6,
        }

    # -- shared helpers ---------------------------------------------------
    def pipeline(self, source):
        from perfbench.chain import append_chain
        from smartpipeline_spark import Pipeline

        return append_chain(Pipeline(self.spark).set_source(source))

    def build(self, p, rec: Call) -> None:
        with self.tracer.span("pipeline.build"):
            t = time.perf_counter()
            p.build()
            rec.build_ms = (time.perf_counter() - t) * 1e3

    def check_sink(self, rec: Call) -> None:
        """Compare a deduplicated parquet sink with the expectation from
        the seed."""
        try:
            rows, value, soft, retried = corpus_mod.parquet_summary(rec.out)
        except (OSError, KeyError, TypeError, ValueError):
            traceback.print_exc(file=sys.stderr)
            rec.failed = 1
            return
        exp_rows, exp_value = self.expected
        counts = self.corpus.counts()
        rec.soft, rec.retried = soft, retried
        if (rows, value, soft, retried) != (exp_rows, exp_value, counts["soft"], counts["flaky"]):
            print(
                f"check failed for {rec.out}: rows {rows}/{exp_rows} "
                f"soft {soft}/{counts['soft']} retried {retried}/{counts['flaky']} "
                f"hash {'ok' if value == exp_value else 'MISMATCH'}",
                file=sys.stderr,
            )
            rec.failed = 1
        shutil.rmtree(rec.out, ignore_errors=True)

    @property
    def expected(self) -> tuple[int, int]:
        if not hasattr(self, "_expected"):
            self._expected = corpus_mod.expected(self.corpus)
        return self._expected


class QueryMix(Workload):
    """Six registered inventory keys at sf0.1 through the noop sink."""

    name = "query_mix"

    def prepare(self) -> None:
        import __spark_entry__ as entry
        from perfbench.tables import write_tables

        self.tables_dir = os.path.join(self.work, "tables")
        self.rows = write_tables(self.tables_dir, self.seed, self.corpus)
        registry = entry.queries()
        self.fns = {k: registry[k] for k in QUERY_KEYS}
        self.oracles = {k: entry.oracle_sql()[k] for k in QUERY_KEYS}
        self.pass_rows = sum(self.rows[t] for ts in QUERY_KEYS.values() for t in ts)

    def call(self, rec: Call) -> None:
        for i, (key, fn) in enumerate(self.fns.items()):
            t0, p0 = time.time(), time.perf_counter()
            try:
                with self.tracer.span(f"query.{key}"):
                    fn(self.spark, self.tables_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec.failed += 1
            rec.key_s[key] = time.perf_counter() - p0
            rec.windows[key] = (t0, time.time())
            if i == 0:
                rec.first_ms = rec.key_s[key] * 1e3
        rec.items = self.pass_rows

    def batch_p50_ms(self, calls):
        """Median time of one key, over every key of every pass."""
        return median([t * 1e3 for c in calls for t in c.key_s.values()])

    def attempted(self, calls):
        return len(calls) * len(QUERY_KEYS)

    def failures(self, calls):
        return sum(len(QUERY_KEYS) if c.raised else c.failed for c in calls)

    def warmup(self) -> None:
        """Every key collected and compared with its DuckDB oracle by the
        rule ``scripts/check_oracles.py`` uses, on concurrent threads,
        which overlaps the keys' one-time JIT and code-generation cost.
        Then one untimed pass as the timed passes run it: after the
        concurrent checks alone, the first timed pass still ran 20-30%
        slower than the fifth."""
        from concurrent.futures import ThreadPoolExecutor

        from smartpipeline_spark.testing import compare

        def check(key) -> bool:
            try:
                df = self.fns[key](self.spark, self.tables_dir)
                res = compare(df, self.oracles[key], self.tables_dir)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                return False
            if not res["hash_match"]:
                print(f"oracle mismatch on {key}: {res}", file=sys.stderr)
            return res["hash_match"]

        with ThreadPoolExecutor(len(self.fns)) as pool:
            matched = list(pool.map(check, self.fns))
        self.wrong = [key for key, ok in zip(self.fns, matched) if not ok]
        self.call(Call())

    def check(self, calls):
        """A key whose output disagreed with its oracle fails every call."""
        for c in calls:
            c.failed += len(self.wrong)

    def scan(self) -> float:
        t = time.perf_counter()
        for name in {t for ts in QUERY_KEYS.values() for t in ts}:
            self.spark.read.parquet(
                os.path.join(self.tables_dir, f"{name}.parquet")
            ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def layers(self, calls, snap):
        out = super().layers(calls, snap)
        ok = [c for c in calls if not c.raised]
        for key in QUERY_KEYS:
            out[f"query.{key}_s"] = median([c.key_s[key] for c in ok])
            out[f"query.{key}_cpu_s"] = median(
                [snap.counters([c.windows[key]])["executor_cpu_s"] for c in ok]
            )
        return out


class StreamIngest(Workload):
    """The corpus files drained by an availableNow file stream, one file
    per micro-batch: chain, then exact dedup on the digest, then a
    parquet file sink."""

    name = "stream_ingest"

    def call(self, rec: Call) -> None:
        self.n_calls += 1
        rec.out = os.path.join(self.work, f"out-{self.n_calls}")
        src = (
            self.spark.readStream.schema("doc_id bigint, text string, flag int")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.corpus_dir)
        )
        p = self.pipeline(src).transform("dedup", lambda df: df.dropDuplicates(["digest"]))
        self.build(p, rec)
        t_start = time.time()
        with self.tracer.span("pipeline.start_stream"):
            q = p.start_stream(
                os.path.join(self.work, f"ckpt-{self.n_calls}"), sink=rec.out,
                available_now=True,
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        rec.batches = sparkstats.stream_batches(q.recentProgress)
        rec.items = sum(b["numInputRows"] for b in rec.batches)
        if rec.batches:
            b = rec.batches[0]
            done = sparkstats.epoch(b["timestamp"]) + (
                b["durationMs"]["triggerExecution"] / 1e3
            )
            rec.first_ms = (done - t_start) * 1e3

    def check(self, calls):
        for c in calls:
            if not c.raised:
                self.check_sink(c)

    def batch_p50_ms(self, calls):
        """Median trigger time over the micro-batches that had input."""
        return median(
            [b["durationMs"]["triggerExecution"] for c in calls for b in c.batches]
        )

    def scan(self) -> float:
        t = time.perf_counter()
        q = (
            self.spark.readStream.schema("doc_id bigint, text string, flag int")
            .option("maxFilesPerTrigger", 1).parquet(self.corpus_dir)
            .writeStream.format("noop").trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(self.work, f"scan-{time.time_ns()}"))
            .start()
        )
        q.awaitTermination()
        return time.perf_counter() - t

    def layers(self, calls, snap):
        out = super().layers(calls, snap)
        out.update(self.wrapper_layers())
        ok = [c for c in calls if not c.raised]
        batches = [b for c in ok for b in c.batches]
        dur = lambda k: [b["durationMs"].get(k, 0) for b in batches]
        state = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
        n_batches = max(len(batches), 1)
        out["stream.batches"] = len(batches) / max(len(ok), 1)
        out["stream.rows_per_batch"] = median([b["numInputRows"] for b in batches])
        out["stream.add_batch_ms_p50"] = median(dur("addBatch"))
        out["stream.wal_commit_ms_p50"] = median(dur("walCommit"))
        out["stream.query_planning_ms_p50"] = median(dur("queryPlanning"))
        out["stream.trigger_ms_p90"] = quantile(dur("triggerExecution"), 0.9)
        out["stream.state_rows"] = float(state[-1]["numRowsTotal"]) if state else 0.0
        out["stream.state_commit_ms_p50"] = median([s["commitTimeMs"] for s in state])
        cnt = snap.counters([(c.start, c.end) for c in ok])
        out["stream.tasks_per_batch"] = cnt["tasks"] / n_batches
        return out


WORKLOADS = {w.name: w for w in (QueryMix, StreamIngest)}
