"""The three benchmark workloads over one shared set-up.

Set-up (every workload): start a SparkSession, store the seeded corpus
(``corpus.web_pages_df``) as a parquet table, build the index ``BUILDS``
times from it and open a ``SearchEngine``. Then one closed-loop client runs
the workload's operation until ``seconds`` have passed:

- ``interactive``: ``search(q, k=200, with_snippets=True)``, one query per
  operation, over every grammar shape (querygen.SHAPES);
- ``batch``: ``search_batch(queries, k=10)`` with 24 queries per call,
  weighted toward head-term conjunctions;
- ``ingest``: one maintenance cycle per operation — ``refresh_index``
  appends the next ``warc_ts`` range, the fixed snapshot query set runs on
  the refreshed (two-segment) index through ``search`` and, once more, in
  one ``search_batch`` call, ``compact_index`` merges it, and the set runs
  again through ``search`` on the compacted index. Its ``items_per_s`` is
  the query rate of these snapshot reads, not a rate of cycles.

Every result is checked against the FTS5 oracle after the loop. A traced
run then sweeps the layers (``Bench.sweep``) so that every per-layer metric
exists for every workload.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from datetime import timedelta

import pandas as pd
from pyspark.sql import functions as F

from pdfsearch_spark import corpus
from pdfsearch_spark.analyzer import tokenize, unicode61_tokens
from pdfsearch_spark.fnv import fnv1_64_signed
from pdfsearch_spark.index_build import build_index, compact_index, refresh_index, table_dir
from pdfsearch_spark.observe import index_stats
from pdfsearch_spark.query.parser import parse_query
from pdfsearch_spark.search import SearchEngine, tree_has_no_near

from . import layers
from .check import Checker, corpus_texts
from .querygen import INTERACTIVE_BLOCK, QueryGen
from .trace import JobCounter, RssSampler, Tracer

# corpus documents and index shards per workload, small enough that the
# fixed Spark cost of set-up (and of ingest's compaction) leaves a run near
# a minute. batch uses large shards so head-term posting lists span many
# 128-doc blocks.
SIZES = {
    "interactive": {"n_docs": 1200, "shards": 2},
    "batch": {"n_docs": 3000, "shards": 2},
    "ingest": {"n_docs": 600, "shards": 2},
}
BUILDS = 2  # set-up builds per run; setup_s takes their median
WARMUP_OPS = {"interactive": 1, "batch": 2}  # unmeasured operations before the loop
CYCLE_DOCS = 100  # docs one ingest cycle (or the traced maintenance probe) appends
# shortest ingest cycle the corpus reserve allows for: a run stores docs
# for ceil(seconds / MIN_CYCLE_S) cycles (a cycle takes 20-30 s on 4 CPUs)
MIN_CYCLE_S = 10
# documents of the single-shard index the traced scorer probe reads:
# head-term posting lists then span tens of 128-doc blocks
PROBE_DOCS = 6000
INTERACTIVE_K = 200
BATCH_K = 10
SNAPSHOT_K = 10
SNIPPET_PROBE_K = 50  # result docs per query the traced snippet probe times
BATCH_EQUALITY_SAMPLE = 2  # batch queries re-run through search() per run
BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)
_END = object()


def _cut(n: int):
    """warc_ts of corpus row n-1: rows [0, n) are exactly warc_ts <= cut."""
    return corpus._EPOCH + timedelta(seconds=137 * (n - 1))


def _is_fast(q: str) -> bool:
    """The engine's fast-path rule (search.SearchEngine.search)."""
    tree, phrases = parse_query(q, tokenize, unicode61_tokens)
    return tree is not None and tree_has_no_near(tree) and all(
        len(p.terms) == 1 and not p.prefix and not p.anchored and p.col != "unindexed"
        for p in phrases
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[workload]
        self.n0 = self.size["n_docs"]
        self.tracer = Tracer(trace)
        self.checker = Checker()
        self.gen = QueryGen(seed, self.n0, self.checker.hits)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.work = work
        self.cycles = max(1, math.ceil(seconds / MIN_CYCLE_S)) if workload == "ingest" else 0
        self.index_dir = os.path.join(work, "index")
        self.corpus_dir = os.path.join(work, "corpus")
        # results awaiting the oracle: (docs visible, query, k, pairs, snippets)
        self.pending: list[tuple] = []
        self.n_visible = self.n0
        self.snapshot_lat: dict[str, list[float]] = {}
        self.reads, self.read_s = 0, 0.0  # ingest: snapshot-read queries, seconds
        # engine result pairs that must agree with each other (batch vs search)
        self.same_pending: list[tuple[str, list, list]] = []

    # ---- helpers ----------------------------------------------------------

    def counted(self, label: str):
        return self.jobs.count(label) if self.jobs else nullcontext({})

    def pages_upto(self, n: int):
        return self.pages_all.filter(F.col("warc_ts") <= F.lit(_cut(n)))

    @staticmethod
    def _search(eng, q: str, k: int, snippets: bool):
        return eng.search(q, k=k, with_snippets=snippets).collect()

    def _record(self, q: str, k: int, rows, snippets: bool = False) -> list:
        pairs = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        snip = {int(r["doc_id"]): (r["title"], r["text"]) for r in rows} if snippets else None
        self.pending.append((self.n_visible, q, k, pairs, snip))
        return pairs

    def _record_batch(self, qs: list[str], rows) -> list[list]:
        """Per-query (doc_id, score) lists of one search_batch result, each
        queued for the oracle."""
        by_q: list[list] = [[] for _ in qs]
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
        for q, pairs in zip(qs, by_q):
            self.pending.append((self.n_visible, q, BATCH_K, pairs, None))
        return by_q

    # ---- lifecycle ----------------------------------------------------------

    def start(self, pool: ThreadPoolExecutor) -> None:
        from pdfsearch_spark.session import get_spark

        # process.peak_rss_mb is a per-layer metric: an untraced run does
        # not pay for the sampler's polling
        if self.tracer.enabled:
            self.rss = RssSampler(int(os.environ.get("SPARK_GRAFT_CPUS", "4"))).start()
        # the oracle's copy of the corpus is generated while the JVM starts
        # (the driver thread only waits on it)
        texts = pool.submit(corpus_texts, 0, self.n0, self.seed)
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        self.texts = texts.result()
        self.checker.load(self.texts)
        self.jobs = JobCounter(self.spark.sparkContext) if self.tracer.enabled else None

    def setup(self) -> None:
        spark = self.spark
        # the ingest cycles' appends, or the traced maintenance probe's one
        reserve = CYCLE_DOCS * max(self.cycles, 1)
        t = time.perf_counter()
        with self.tracer.span("setup.corpus"):
            corpus.web_pages_df(
                spark, self.n0 + reserve, seed=self.seed,
                partitions=spark.sparkContext.defaultParallelism,
            ).write.mode("overwrite").parquet(self.corpus_dir)
        corpus_s = time.perf_counter() - t
        self.pages_all = spark.read.parquet(self.corpus_dir)
        builds, phases = [], []
        for i in range(BUILDS):
            with self.tracer.span("index_build.build", i=i), self.counted("build") as c:
                t = time.perf_counter()
                m = build_index(spark, self.pages_upto(self.n0), self.index_dir,
                                n_shards=self.size["shards"])
                builds.append(time.perf_counter() - t)
            phases.append(m["phase_sec"])
        self.layer["index_build.build_s"] = statistics.median(builds)
        self.e2e["setup_s"] = self.session_s + corpus_s + self.layer["index_build.build_s"]
        self.layer["session.start_s"] = self.session_s
        self.layer["index_build.build.jobs"] = float(c.get("jobs", 0))
        for name in ("extract_and_doc_text_write", "postings_encode_write", "lineage_agg"):
            self.layer[f"index_build.build.phase.{name}_s"] = statistics.median(
                p.get(name, 0.0) for p in phases
            )
        with self.tracer.span("search.open"):
            self.eng = SearchEngine(spark, self.index_dir)
        self.e2e["index_bytes_per_text_byte"] = self.index_bytes()
        # warm-up outside every measurement: the snapshot set's
        # general-path query (its phrase), which also reads the fresh index
        self.snapshot_queries = self.gen.snapshot_set()
        self.snapshot_batch = self.gen.batch()
        q = self.snapshot_queries[-1]
        with self.tracer.span("search.warmup", q=q):
            self._record(q, SNAPSHOT_K, self._search(self.eng, q, SNAPSHOT_K, False))

    def index_bytes(self) -> float:
        """Bytes of the live snapshot's tables over extracted-text bytes."""
        epoch = self.eng.epoch
        on_disk = sum(
            layers.dir_bytes(table_dir(self.index_dir, t, epoch)) for t in ("postings", "doc_text")
        )
        text = self.spark.read.parquet(table_dir(self.index_dir, "doc_text", epoch)).select(
            F.sum(F.octet_length("text"))
        ).collect()[0][0]
        return on_disk / text

    # ---- workload loops -----------------------------------------------------

    def run(self) -> None:
        """``op_p50_s``: median operation latency; ``items_per_s``: items
        over the seconds the loop measured them in."""
        loop = {"interactive": self.interactive, "batch": self.batch, "ingest": self.ingest}
        with self.tracer.span(f"workload.{self.workload}"):
            lat, items, wall = loop[self.workload]()
        if self.workload == "ingest":
            self.e2e["index_bytes_per_text_byte"] = self.index_bytes()
        self.e2e["op_p50_s"] = statistics.median(lat)
        self.e2e["items_per_s"] = items / wall
        self.layer["workload.ops"] = float(len(lat))

    def _loop(self, inputs, op, block: int = 1, warmup=()):
        """Closed loop: ``op(x)`` (→ items done) for each input until
        ``seconds`` of measured time pass (checked every ``block`` inputs)
        or the inputs run out. The clock stops while an input is drawn, so
        the measured time is the operations plus the loop itself. A failed
        operation is counted and the loop goes on. The ``warmup`` inputs run
        first, unmeasured, so the JVM's just-in-time compilation of the
        query path settles first."""
        for x in warmup:
            with self.tracer.span("warmup"):
                self._attempt(op, x)
        lat, items, drawing = [], 0, 0.0
        inputs = iter(inputs)
        t_start = time.perf_counter()
        for i in itertools.count():
            if i % block == 0 and time.perf_counter() - t_start - drawing >= self.seconds:
                break
            t = time.perf_counter()
            x = next(inputs, _END)
            drawing += time.perf_counter() - t
            if x is _END:
                break
            t = time.perf_counter()
            n = self._attempt(op, x)
            if n is not None:
                lat.append(time.perf_counter() - t)
                items += n
        return lat, items, time.perf_counter() - t_start - drawing

    def _attempt(self, op, x):
        try:
            return op(x)
        except Exception:  # noqa: BLE001 — counted, reported, the loop goes on
            traceback.print_exc()
            self.checker.op(f"{self.workload} operation", False, "raised")
            return None

    def interactive(self):
        def op(shape_q):
            shape, q = shape_q
            with self.tracer.span("search", shape=shape, q=q):
                rows = self._search(self.eng, q, INTERACTIVE_K, True)
            self._record(q, INTERACTIVE_K, rows, snippets=True)
            return 1

        # whole blocks only: every run sees the same shape mix
        blocks = self.gen.interactive()
        warm = next(blocks)[:WARMUP_OPS["interactive"]]
        return self._loop(
            (x for block in blocks for x in block), op, len(INTERACTIVE_BLOCK), warm
        )

    def batch(self):
        def op(qs):
            with self.tracer.span("search.batch", n=len(qs)):
                rows = self.eng.search_batch(qs, k=BATCH_K).collect()
            for q, pairs in zip(qs, self._record_batch(qs, rows)):
                if len(sample) < BATCH_EQUALITY_SAMPLE and pairs:
                    sample.append((q, pairs))
            return len(qs)

        sample: list[tuple[str, list]] = []
        warm = [self.gen.batch() for _ in range(WARMUP_OPS["batch"])]
        out = self._loop((self.gen.batch() for _ in itertools.count()), op, warmup=warm)
        # a few batch results re-run through search(), outside the loop (the
        # index does not change during this workload)
        for q, pairs in sample:
            got = self._record(q, BATCH_K, self._search(self.eng, q, BATCH_K, False))
            self.same_pending.append((f"search_batch vs search {q!r}", pairs, got))
        return out

    def ingest(self):
        lat, _, _ = self._loop(range(self.cycles), lambda _: self.cycle())
        return lat, self.reads, self.read_s

    def cycle(self) -> int:
        """refresh → snapshot reads → compact → snapshot reads."""
        spark, n = self.spark, self.n_visible + CYCLE_DOCS
        with self.tracer.span("index_build.refresh"), self.counted("refresh") as c:
            r = refresh_index(spark, self.pages_upto(n), self.index_dir)
        self.layer["index_build.refresh.jobs"] = float(c.get("jobs", 0))
        self.checker.op("refresh", r.get("appended_docs") == CYCLE_DOCS, str(r))
        self.n_visible = n
        self._snapshot_reads("refreshed")
        before = self.eng.epoch
        with self.tracer.span("index_build.compact"), self.counted("compact") as c:
            r = compact_index(spark, self.index_dir)
        self.layer["index_build.compact.jobs"] = float(c.get("jobs", 0))
        self.checker.op("compact", bool(r.get("compacted")) and r.get("segments_after") == 1, str(r))
        self._snapshot_reads("compacted")
        if self.eng.epoch != before:
            self.layer["index_build.compact.bytes_rewritten"] = float(sum(
                layers.dir_bytes(table_dir(self.index_dir, t, self.eng.epoch))
                for t in ("postings", "doc_text")
            ))
        return CYCLE_DOCS

    def _snapshot_reads(self, label: str) -> None:
        """Open the new snapshot and run the read set on it; the opening and
        every query count toward ``reads`` and ``read_s``."""
        t_open = time.perf_counter()
        with self.tracer.span("search.open"):
            self.eng = SearchEngine(self.spark, self.index_dir)
        singles = []
        for q in self.snapshot_queries:
            t = time.perf_counter()
            with self.tracer.span(f"search.{label}", q=q):
                rows = self._search(self.eng, q, SNAPSHOT_K, False)
            self.snapshot_lat.setdefault(label, []).append(time.perf_counter() - t)
            singles.append(self._record(q, SNAPSHOT_K, rows))
        self.reads += len(singles)
        if label == "refreshed":
            # the batch path on the two-segment snapshot: its first queries
            # are the single reads above, whose results it must reproduce
            qs = self.snapshot_queries + self.snapshot_batch
            with self.tracer.span(f"search.batch.{label}", n=len(qs)):
                rows = self.eng.search_batch(qs, k=BATCH_K).collect()
            for q, want, got in zip(qs, singles, self._record_batch(qs, rows)):
                self.same_pending.append((f"search_batch vs search {q!r} ({label})", want, got))
            self.reads += len(qs)
        self.read_s += time.perf_counter() - t_open

    # ---- checks -------------------------------------------------------------

    def check(self) -> None:
        """Every recorded result vs an oracle holding exactly the docs that
        were visible when it ran, and the batch-vs-search pairs."""
        with self.tracer.span("check"):
            for n, q, k, pairs, snip in sorted(self.pending, key=lambda p: p[0]):
                if n > len(self.texts):
                    more = corpus_texts(len(self.texts), n, self.seed)
                    self.checker.load(more)
                    self.texts = pd.concat([self.texts, more], ignore_index=True)
                self.checker.query(q, k, pairs, snip)
            self.pending = []
            for what, a, b in self.same_pending:
                self.checker.same(what, a, b)
            self.same_pending = []

    # ---- traced layer sweep -------------------------------------------------

    def sweep(self) -> None:
        """Per-layer probes (traced runs only). Order matters: read-side
        probes use the workload's own index before the maintenance cycle
        appends and compacts it."""
        spark, L = self.spark, self.layer
        fast = {"jobs": [], "tasks": []}
        general = {"jobs": [], "tasks": []}
        shape_qs = self.gen.probe_set()
        for shape, q in shape_qs:
            with self.tracer.span("search", shape=shape, q=q), self.counted("query") as c:
                t = time.perf_counter()
                rows = self._search(self.eng, q, INTERACTIVE_K, True)
                L[f"search.query_s.{shape}"] = time.perf_counter() - t
            self._record(q, INTERACTIVE_K, rows, snippets=True)
            side = fast if _is_fast(q) else general
            side["jobs"].append(c["jobs"])
            side["tasks"].append(c["tasks"])
        for name, side in (("fast", fast), ("general", general)):
            L[f"search.jobs_per_query.{name}"] = float(statistics.median(side["jobs"]))
            L[f"search.tasks_per_query.{name}"] = float(statistics.median(side["tasks"]))
        batch_qs = self.gen.batch()
        with self.tracer.span("search.batch", n=len(batch_qs)), self.counted("batch") as c:
            rows = self.eng.search_batch(batch_qs, k=BATCH_K).collect()
        self._record_batch(batch_qs, rows)
        L["search.batch.jobs"] = float(c["jobs"])
        L["search.batch.tasks"] = float(c["tasks"])

        postings = table_dir(self.index_dir, "postings", self.eng.epoch)
        probe = self._probe_index()
        span = self.tracer.span
        with span("layers.driver"):
            with span("layers.scorer"):
                shards = layers.read_shards(table_dir(probe.index_dir, "postings", probe.epoch))
                L.update(layers.scorer_probe(
                    shards, batch_qs + self.gen.batch(), probe.n_docs, probe.avgdl, BATCH_K
                ))
            with span("layers.codec"):
                shards = layers.read_shards(postings)
                L.update(layers.codec_probe(max(shards.values(), key=len)))
            with span("layers.text"):
                L.update(layers.text_probe(self.seed, self.n0))
            with span("layers.parser"):
                L.update(layers.parse_probe([q for _, q in shape_qs] + batch_qs))
            with span("layers.snippet"):
                L.update(self._snippet_probe(shape_qs))
        stats = index_stats(spark, self.index_dir).collect()
        posts = [int(r["n_postings"]) for r in stats]
        L["observe.shard_postings_skew"] = max(posts) / statistics.mean(posts)
        L["index_build.postings_files"] = float(layers.count_parquet(postings))

        if not self.tracer.durations("index_build.compact"):  # ingest ran cycles
            with self.tracer.span("maintenance"):
                self.cycle()
        L["index_build.refresh_s"] = self.tracer.durations("index_build.refresh")[-1]
        L["index_build.compact_s"] = self.tracer.durations("index_build.compact")[-1]
        for label in ("refreshed", "compacted"):
            L[f"search.{label}_query_p50_s"] = statistics.median(self.snapshot_lat[label])

    def _probe_index(self) -> SearchEngine:
        """A single-shard index of the first PROBE_DOCS documents of the
        same seed's corpus (the workload's own corpus is a prefix of it):
        its head-term posting lists span many 128-doc blocks, which the
        workload's own shards of a few hundred docs do not."""
        spark = self.spark
        corpus_dir = os.path.join(self.work, "probe_corpus")
        index_dir = os.path.join(self.work, "probe_index")
        with self.tracer.span("layers.probe_index", n_docs=PROBE_DOCS):
            corpus.web_pages_df(
                spark, PROBE_DOCS, seed=self.seed,
                partitions=spark.sparkContext.defaultParallelism,
            ).write.mode("overwrite").parquet(corpus_dir)
            build_index(spark, spark.read.parquet(corpus_dir), index_dir, n_shards=1)
            return SearchEngine(spark, index_dir)

    def _snippet_probe(self, shape_qs) -> dict:
        by_id = dict(zip((fnv1_64_signed(u) for u in self.texts["url"]), self.texts["text"]))
        hits = []
        for _, q in shape_qs:
            docs = [r.doc_id for r in self.checker.oracle.search(q, k=SNIPPET_PROBE_K)]
            hits.append((q, [by_id[d] for d in docs if d in by_id]))
        return layers.snippet_probe(hits)

    # ---- teardown -----------------------------------------------------------

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)

    def result(self) -> dict:
        """The run's result line: every metric BENCHMARK.json declares for
        this mode, with the unit it declares."""
        with open(BENCHMARK_JSON) as f:
            declared = json.load(f)["per_layer" if self.tracer.enabled else "end_to_end"]
        values = self.layer if self.tracer.enabled else self.e2e
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
        return {
            "correct": self.checker.failed == 0,
            "attempted": self.checker.attempted,
            "failed": self.checker.failed,
            "metrics": metrics,
        }


def run_workload(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    bench = Bench(workload, seed, seconds, trace, work)
    try:
        with ThreadPoolExecutor(1) as pool:
            bench.start(pool)
        bench.setup()
        bench.run()
        bench.check()
        if trace:
            bench.layer["process.peak_rss_mb"] = bench.rss.stop()
            bench.sweep()
            bench.check()  # the sweep's own results
            spans = max(len(bench.tracer.spans), 1)
            bench.layer["trace.bookkeeping_ms_per_span"] = (
                1e3 * (bench.tracer.cost + bench.jobs.cost) / spans
            )
    finally:
        if hasattr(bench, "rss"):
            bench.rss.stop()
        if hasattr(bench, "spark"):
            bench.stop()
    if trace:
        path = os.path.join(os.path.dirname(work), "spans", f"{workload}-seed{seed}.json")
        bench.tracer.write(path, {"workload": workload, "seed": seed, "e2e": bench.e2e,
                                  "layer": bench.layer})
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    return bench.result()

