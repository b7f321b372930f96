"""The benchmark's workloads: seeded inputs, a closed-loop timed part driven
by one client through the engine's public entry points, and a correctness
check against the independent oracle after the timed part.

``search``       — driver-local ``Index.search`` over an index built in
                   set-up; Spark is stopped before it is timed.
``ingest_batch`` — ``IncrementalIndexer.process_batch`` appends a
                   micro-batch to a live index, then ``run_queries`` answers
                   a query batch on the result; every Spark layer runs.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from localsearchengine_spark import build
from localsearchengine_spark.build import build_index
from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators import batch_query, postings
from localsearchengine_spark.operators import search as search_mod
from localsearchengine_spark.operators.search import Index, TermPostings
from localsearchengine_spark.sources.fixtures import (
    BASE_VOCAB,
    golden_queries,
    make_transcripts,
    write_transcripts_parquet,
)
from localsearchengine_spark.streaming import incremental
from localsearchengine_spark.streaming.incremental import IncrementalIndexer

from perfbench.eventlog import FIELDS
from perfbench.oracle import Corpus, mismatch
from perfbench.tracing import cpu_delta

SIZES = {
    "full": {"search_turns": 20_000, "pass_rare": 250, "base_turns": 5_000,
             "batch_turns": 1_000},
    "smoke": {"search_turns": 2_000, "pass_rare": 40, "base_turns": 2_000,
              "batch_turns": 400},
}
# Terms whose df the build and ingest checks compare: hot words and rare
# tokens that every corpus and micro-batch contains.
DF_SAMPLE = ("the", "spark", "cache", "term00000", "term00007", "term00019")


def index_counts(index: Index) -> dict:
    """n_docs, total_tokens and the df of DF_SAMPLE as a built index reports them."""
    return {"n_docs": index.n_docs, "total_tokens": index.meta.get("total_tokens"),
            "df": {t: int(r["df"]) for t, r in index.lookup(list(DF_SAMPLE)).items()}}


def corpus_counts(corpus: Corpus, n: int) -> dict:
    """The same counts over the first ``n`` documents of the generated corpus."""
    return {"n_docs": n, "total_tokens": corpus.total_tokens(n),
            "df": {t: corpus.df(t, n) for t in DF_SAMPLE if corpus.df(t, n)}}


def hot_threshold(n_turns: int) -> int:
    """The default hot_df_threshold (50k) scaled from the 240k-turn corpus it
    was tuned on, so the 40 base words stay salted at these sizes."""
    return max(1, round(50_000 * n_turns / 240_000))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def index_bytes(index_dir: str) -> int:
    """Postings + dictionary bytes of a built index."""
    return sum(dir_bytes(os.path.join(index_dir, d)) for d in ("postings", "dictionary"))


class Search:
    """Single-client top-10 queries, ``wand`` and ``and`` modes alternating.
    Each pass over the query list opens a fresh ``Index`` handle, so its
    posting cache starts empty.  Half of the queries are 2–3 of the 40 hot
    base words, whose postings the handle caches on first use, so they are
    bound by scoring; the other half pair a rare ``termNNNNN`` token the
    handle has not fetched yet with one hot word, so they are bound by
    lookup and fetch.  Every query is drawn on its own, so the mix, not the
    particular draw, sets the cost of a run.  Spark is stopped once the
    index is built, and set-up ends with one untimed pass; a loop times
    whole passes, one block each."""

    name = "search"
    SPARK_WHEN_TIMED = False

    def __init__(self, spark, tree, work: str, seed: int, size: dict):
        self.spark, self.tree, self.work, self.seed, self.size = spark, tree, work, seed, size
        self.first: dict[int, object] = {}
        self.times: dict[int, int] = {}
        self.differ: dict[int, int] = {}  # repeats whose result differs from the first
        self.sent = 0
        self.rare_flags: list[bool] = []

    def setup(self) -> None:
        n = self.size["search_turns"]
        self.pdf = make_transcripts(n, self.seed)
        src = os.path.join(self.work, "corpus.parquet")
        write_transcripts_parquet(self.pdf, src)
        self.index_dir = os.path.join(self.work, "index")
        build_index(self.spark, src, self.index_dir, BuildConfig(hot_df_threshold=hot_threshold(n)))
        rng = np.random.default_rng(self.seed)
        self.queries = []
        for j, r in enumerate(rng.permutation(n // 20)[: self.size["pass_rare"]]):
            mode = "wand" if j % 2 == 0 else "and"
            hot = rng.choice(BASE_VOCAB, size=2 + j // 2 % 2, replace=False).tolist()
            self.queries.append((sorted(hot), mode, False))
            self.queries.append((sorted([f"term{int(r):05d}", hot[0]]), mode, True))

    def _pass(self, lat: list[float]) -> None:
        """One pass over the query list on a fresh handle; appends each
        query's service time to ``lat``: the CPU time of this process while
        it ran, which with one Arrow thread is its latency on a core of its
        own, without the time the shared host gave that core to others."""
        index = Index(self.spark, self.index_dir)
        for qi, (terms, mode, rare) in enumerate(self.queries):
            c0 = time.process_time()
            try:
                res = index.search(terms, k=10, mode=mode)
            except Exception as e:  # counted as a failed query by check()
                res = e
            lat.append(time.process_time() - c0)
            self.rare_flags.append(rare)
            self._record(qi, res)

    def loop(self, seconds: float, tracer=None) -> list[dict]:
        """Whole passes, started until ``seconds`` have passed and at least
        one → one block per pass: {"lat": service time of each query,
        "cpu_s": process-tree CPU seconds, "wall_s": wall seconds}."""
        blocks: list[dict] = []
        deadline = time.perf_counter() + seconds
        while not blocks or time.perf_counter() < deadline:
            before = self.tree.snapshot()
            t0 = time.perf_counter()
            lat: list[float] = []
            self._pass(lat)
            blocks.append({"lat": lat, "wall_s": time.perf_counter() - t0,
                           "cpu_s": sum(cpu_delta(before, self.tree.snapshot()).values())})
        return blocks

    def _record(self, qi: int, res) -> None:
        self.sent += 1
        self.times[qi] = self.times.get(qi, 0) + 1
        if qi not in self.first:
            self.first[qi] = res
        elif res != self.first[qi]:
            self.differ[qi] = self.differ.get(qi, 0) + 1

    def check(self) -> tuple[int, int, list[str]]:
        """The built index's counts (one attempt), then every query sent."""
        corpus = Corpus()
        corpus.extend(self.pdf["text"])
        self.text_bytes = sum(corpus.text_bytes)
        built = index_counts(Index(self.spark, self.index_dir))
        want = corpus_counts(corpus, len(corpus))
        failed, problems = self.check_queries(corpus)
        if built != want:
            failed += 1
            problems.append(f"index {built} != corpus {want}")
        return self.sent + 1, failed, problems

    def check_queries(self, corpus: Corpus) -> tuple[int, list[str]]:
        """→ (failed queries, problems) against the oracle over ``corpus``."""
        failed, problems = 0, []
        for qi, res in self.first.items():
            terms, mode, _ = self.queries[qi]
            why = (f"raised {res!r}" if isinstance(res, Exception) else
                   mismatch(res, corpus.topk(terms, "and" if mode == "and" else "or", 10)))
            if why:  # every repeat of a wrong first result was wrong too
                failed += self.times[qi] - self.differ.get(qi, 0)
                problems.append(f"{mode} {terms}: {why}")
            if self.differ.get(qi):
                failed += self.differ[qi]
                problems.append(f"{mode} {terms}: {self.differ[qi]} repeats changed the result")
        return failed, problems

    def warm_up(self, trace: bool) -> None:
        """One untimed pass, the last step of set-up, so that the timed passes
        find the imports, the page cache and the interpreter warm."""
        # one Arrow thread each for compute and I/O: a query's wall time is
        # then its CPU time, not how many of the host's shared cores are free
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        self._pass([])
        self.rare_flags.clear()

    def index_bytes_per_text_byte(self) -> float:
        return index_bytes(self.index_dir) / self.text_bytes

    # ---- tracing ----------------------------------------------------------
    def instrument(self, tr) -> None:
        counters = tr.counters
        current: dict[str, object] = {}

        def fetch_postings(orig):
            def wrapper(index, terms):
                uniq = set(terms)
                counters["terms_requested"] += len(uniq)
                # the handle's own posting cache, read only to count hits
                counters["terms_cached"] += sum(1 for t in uniq if t in index._cache)
                with tr.span("search.fetch_postings"):
                    return orig(index, terms)
            return wrapper

        def touch(p, blocks) -> None:
            seen = current.get("touched")
            if seen is not None:
                seen.setdefault(id(p), set()).update(blocks)

        def decode_block(orig):
            def wrapper(p, i):
                touch(p, (i,))
                with tr.span("codec.decode"):
                    return orig(p, i)
            return wrapper

        def decode_all(orig):
            def wrapper(p):
                touch(p, range(p.n_blocks))
                with tr.span("codec.decode"):
                    return orig(p)
            return wrapper

        def wand_topk(orig):
            def wrapper(plists, k, cfg):
                current["touched"] = {}
                try:
                    with tr.span("wand.wand_topk"):
                        return orig(plists, k, cfg)
                finally:
                    touched = current.pop("touched")
                    counters["wand_blocks_touched"] += sum(len(b) for b in touched.values())
                    counters["wand_blocks_total"] += sum(p.n_blocks for p in plists)
            return wrapper

        tr.patch(Index, "fetch_postings", fetch_postings)
        tr.patch(TermPostings, "decode_block", decode_block)
        tr.patch(TermPostings, "decode_all", decode_all)
        tr.patch(search_mod, "wand_topk", wand_topk)
        tr.wrap(Index, "search", "search.search")
        tr.wrap(Index, "lookup", "search.lookup")
        tr.wrap(search_mod, "_and_topk", "search.and_topk")

    def layer_metrics(self, layers: dict, spark_layers: dict, tr, untraced_lat) -> dict:
        lat_ms = np.asarray(untraced_lat) * 1e3
        rare = np.asarray(self.rare_flags[: len(lat_ms)], dtype=bool)
        c = tr.counters

        def self_ms(name):
            return layers.get(name, {}).get("self_s", 0.0) * 1e3

        return {
            "search.queries": float(len(lat_ms)),
            "search.query_p50_ms": float(np.percentile(lat_ms, 50)),
            "search.query_p99_ms": float(np.percentile(lat_ms, 99)),
            "search.hot_query_p50_ms": float(np.percentile(lat_ms[~rare], 50)),
            "search.rare_query_p50_ms": float(np.percentile(lat_ms[rare], 50)),
            "search.search.self_ms": self_ms("search.search"),
            "search.lookup.self_ms": self_ms("search.lookup"),
            "search.fetch_postings.self_ms": self_ms("search.fetch_postings"),
            "codec.decode.ms": self_ms("codec.decode"),
            "wand.wand_topk.self_ms": self_ms("wand.wand_topk"),
            "search.and_topk.self_ms": self_ms("search.and_topk"),
            "search.term_cache_hit_ratio": c["terms_cached"] / max(c["terms_requested"], 1),
            "wand.blocks_decoded_ratio": c["wand_blocks_touched"] / max(c["wand_blocks_total"], 1),
        }

    def after_trace(self, restart) -> dict:
        return {}


# Blocking layers of an ingest_batch round: with the rounds' own gaps they
# add up to the traced wall time.  postings.stats_hot_scan runs concurrently.
INGEST_LAYERS = (
    "incremental.process_batch", "build.segment", "sources.scan_transcripts",
    "build.docs", "docids.assign_doc_ids", "postings.emit_postings",
    "postings.build_posting_partitions", "postings.write_dictionary",
    "merge.merge_indexes", "batch_query.run_queries", "batch_query.action",
)
BUILD_LAYERS = ("build.docs", "postings.stats_hot_scan",
                "postings.build_posting_partitions", "postings.write_dictionary")


class IngestBatch:
    """Rounds on one live index.  A round appends a micro-batch of whole new
    conversations with ``process_batch`` (segment build, then a merge that
    rewrites the index) and answers the round's 50 seeded golden queries
    (single-, two- and three-term) with ``run_queries`` on the result; AND
    and OR rounds alternate.  A loop times a fixed number of rounds, ROUNDS,
    whatever ``--seconds`` says: a round is longer than a run's seconds, and
    a time-boxed loop would time a cold round alone or a cold and a warm one
    depending on how fast the program is."""

    name = "ingest_batch"
    SPARK_WHEN_TIMED = True
    ROUNDS = 1

    def __init__(self, spark, tree, work: str, seed: int, size: dict):
        self.spark, self.tree, self.work, self.seed, self.size = spark, tree, work, seed, size
        self.rounds: list[dict] = []
        self.epoch = 0
        self.acc: dict[str, float] = defaultdict(float)

    def setup(self) -> None:
        base = make_transcripts(self.size["base_turns"], self.seed)
        self.base_src = os.path.join(self.work, "base.parquet")
        write_transcripts_parquet(base, self.base_src)
        self.texts = list(base["text"])
        self.conf = BuildConfig(hot_df_threshold=hot_threshold(self.size["batch_turns"]))
        self.live = os.path.join(self.work, "live")
        self.stream = os.path.join(self.work, "stream")
        build_index(self.spark, self.base_src, self.live, self.conf)
        self.indexer = IncrementalIndexer(self.spark, self.live, self.stream, self.conf)

    def warm_up(self, trace: bool) -> None:
        """One untimed round before a trace run, so that its untraced and
        traced rounds both run warm and their ratio is the tracing overhead.
        The timed round of an untraced run is the first one after set-up:
        it pays JIT for the merge and batch paths (about twice a warm
        round), because a warm-up round does not fit the run-time budget
        (README.md)."""
        if trace:
            self.round()

    def _micro_batch(self, epoch: int):
        pdf = make_transcripts(self.size["batch_turns"], self.seed * 10_007 + epoch)
        pdf["conv_id"] = f"b{epoch:05d}-" + pdf["conv_id"]  # new conversations
        path = os.path.join(self.work, "in", f"mb-{epoch:05d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_transcripts_parquet(pdf, path)
        return path, list(pdf["text"])

    def round(self, tracer=None) -> tuple[float, float]:
        """One append + one query batch → (wall s, process-tree CPU s)."""
        epoch = self.epoch
        self.epoch += 1
        path, texts = self._micro_batch(epoch)
        batch_df = self.spark.read.parquet(path)
        queries = golden_queries(self.seed * 10_007 + epoch)
        mode = "and" if epoch % 2 == 0 else "or"
        staged0 = dir_bytes(self.stream) if tracer else 0
        before = self.tree.snapshot()
        t0 = time.perf_counter()
        try:
            self.indexer.process_batch(batch_df, epoch)
            index = Index(self.spark, self.live)
            frame = batch_query.run_queries(self.spark, index, queries, mode=mode)
            if tracer is None:
                out = frame.collect()
            else:
                with tracer.span("batch_query.action", label=True, cpu=True):
                    out = frame.collect()
        except Exception as e:  # counted as failed attempts by check()
            out = e
        dt = time.perf_counter() - t0
        cpu = sum(cpu_delta(before, self.tree.snapshot()).values())
        self.texts.extend(texts)
        rec = {"epoch": epoch, "n": len(self.texts), "mode": mode, "queries": queries, "out": out}
        if not isinstance(out, Exception):
            rec["facts"] = index_counts(index)
        self.rounds.append(rec)
        if tracer is not None:
            self.acc["staged_bytes"] += dir_bytes(self.stream) - staged0
            self.acc["ingested_text_bytes"] += sum(len(t.encode("utf-8")) for t in texts)
        return dt, cpu

    def loop(self, seconds: float, tracer=None) -> list[dict]:
        """ROUNDS rounds → one block per round: {"lat": [round wall s],
        "wall_s": the same, "cpu_s": process-tree CPU seconds of the round}.  ``seconds`` is not
        used (see the class docstring)."""
        blocks = []
        for _ in range(self.ROUNDS):
            dt, cpu = self.round(tracer)
            blocks.append({"lat": [dt], "wall_s": dt, "cpu_s": cpu})
        return blocks

    def check(self) -> tuple[int, int, list[str]]:
        corpus = Corpus()
        corpus.extend(self.texts)
        self.text_bytes = sum(corpus.text_bytes)
        attempted = failed = 0
        problems: list[str] = []
        for r in self.rounds:
            n, queries = r["n"], r["queries"]
            attempted += 1 + len(queries)
            if isinstance(r["out"], Exception):
                failed += 1 + len(queries)
                problems.append(f"epoch {r['epoch']}: raised {r['out']!r}")
                continue
            want = corpus_counts(corpus, n)
            if r["facts"] != want:
                failed += 1
                problems.append(f"epoch {r['epoch']}: index {r['facts']} != corpus {want}")
            by_q = defaultdict(list)
            for row in r["out"]:
                by_q[int(row["query_id"])].append((int(row["rank"]), int(row["doc_id"]), row["score"]))
            for q in queries:
                got = [(d, s) for _, d, s in sorted(by_q.get(q["query_id"], []))]
                why = mismatch(got, corpus.topk(q["terms"], r["mode"], q.get("k", 10), n))
                if why:
                    failed += 1
                    problems.append(f"epoch {r['epoch']} {r['mode']} {q['terms']}: {why}")
        return attempted, failed, problems

    def index_bytes_per_text_byte(self) -> float:
        return index_bytes(self.live) / self.text_bytes

    # ---- tracing ----------------------------------------------------------
    def instrument(self, tr) -> None:
        acc = self.acc

        def after_segment(sp, args, report) -> None:
            seg = args[2]
            skew = report.skew
            acc["segments"] += 1
            acc["segment_turns"] += report.n_docs
            acc["segment_bytes"] += dir_bytes(seg)
            acc["segment_postings_bytes"] += dir_bytes(os.path.join(seg, "postings"))
            acc["segment_postings"] += pq.read_table(
                os.path.join(seg, "dictionary"), columns=["df"])["df"].to_numpy().sum()
            acc["hot_terms"] += report.hot_terms
            acc["skew_max_over_mean"] += skew["postings_max"] * skew["partitions"] / skew["postings_total"]

        def after_merge(sp, args, meta) -> None:
            acc["merges"] += 1
            acc["merged_bytes"] += dir_bytes(args[2])

        tr.wrap(IncrementalIndexer, "process_batch", "incremental.process_batch", label=True)
        tr.wrap(incremental, "build_index", "build.segment", label=True, cpu=True, after=after_segment)
        tr.wrap(incremental, "merge_indexes", "merge.merge_indexes", label=True, after=after_merge)
        tr.wrap(build, "scan_transcripts", "sources.scan_transcripts")
        tr.wrap(build, "_write_docstore", "build.docs", label=True)
        tr.wrap(build, "assign_doc_ids", "docids.assign_doc_ids")
        tr.wrap(postings, "stats_hot_scan", "postings.stats_hot_scan", label=True)
        tr.wrap(postings, "emit_postings", "postings.emit_postings")
        tr.wrap(postings, "build_posting_partitions", "postings.build_posting_partitions", label=True)
        tr.wrap(postings, "write_dictionary", "postings.write_dictionary", label=True)
        tr.wrap(batch_query, "run_queries", "batch_query.run_queries", label=True, cpu=True)

    def layer_metrics(self, layers: dict, spark_layers: dict, tr, untraced_lat) -> dict:
        acc = self.acc
        segments = max(acc["segments"], 1)

        def span(name, key="wall_s"):
            return layers.get(name, {}).get(key, 0.0)

        def task(label, field):
            return spark_layers.get(label, {}).get(field, 0.0)

        m = {f"{name}.self_s": span(name, "self_s") for name in INGEST_LAYERS}
        for layer in BUILD_LAYERS:
            m[f"{layer}.wall_s"] = span(layer)
            for f in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                      "shuffle_write_records", "input_records"):
                m[f"{layer}.{f}"] = task(layer, f)
        seg_cpu = layers.get("build.segment", {}).get("cpu", {})
        m["build.jvm_cpu_s"] = seg_cpu.get("jvm", 0.0)
        m["build.python_worker_cpu_s"] = seg_cpu.get("python_workers", 0.0)
        m["analyze.corpus_passes"] = (
            task("postings.stats_hot_scan", "input_records")
            + task("postings.build_posting_partitions", "input_records")
        ) / max(acc["segment_turns"], 1)
        m["postings.hot_terms"] = acc["hot_terms"] / segments
        m["postings.skew_max_over_mean"] = acc["skew_max_over_mean"] / segments
        m["codec.bytes_per_posting"] = acc["segment_postings_bytes"] / max(acc["segment_postings"], 1)

        bq = {f: task("batch_query.run_queries", f) + task("batch_query.action", f) for f in FIELDS}
        m["batch_query.plan_s"] = span("batch_query.run_queries")
        m["batch_query.action_s"] = span("batch_query.action")
        for f in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                  "shuffle_write_records", "input_bytes", "tasks"):
            m[f"batch_query.{f}"] = bq[f]
        m["batch_query.shuffle_bytes_per_input_byte"] = bq["shuffle_write_bytes"] / max(bq["input_bytes"], 1)
        m["batch_query.python_worker_cpu_s"] = sum(
            layers.get(n, {}).get("cpu", {}).get("python_workers", 0.0)
            for n in ("batch_query.run_queries", "batch_query.action"))

        m["incremental.process_batch.wall_s"] = span("incremental.process_batch")
        m["build.segment.wall_s"] = span("build.segment")
        m["merge.merge_indexes.wall_s"] = span("merge.merge_indexes")
        m["merge.executor_cpu_s"] = task("merge.merge_indexes", "executor_cpu_s")
        m["merge.shuffle_write_bytes"] = task("merge.merge_indexes", "shuffle_write_bytes")
        m["merge.bytes_rewritten_per_batch"] = acc["merged_bytes"] / max(acc["merges"], 1)
        m["ingest.bytes_written_per_text_byte"] = (
            acc["staged_bytes"] + acc["segment_bytes"] + acc["merged_bytes"]
        ) / max(acc["ingested_text_bytes"], 1)
        return m

    def after_trace(self, restart) -> dict:
        """build.scaling_eff_1to4: a full build of the base corpus at local[4]
        and at local[1] → (turns/s at 4) ÷ (4 × turns/s at 1)."""
        t4 = self._timed_build("scale4")
        # the JVM stays warm across the restart; the local[1] build also pays
        # the start-up of its one Python worker (a few percent of it)
        self.spark = restart("local[1]")
        t1 = self._timed_build("scale1")
        return {"build.scaling_eff_1to4": t1 / (4 * t4)}

    def _timed_build(self, name: str) -> float:
        t0 = time.perf_counter()
        build_index(self.spark, self.base_src, os.path.join(self.work, name), self.conf)
        return time.perf_counter() - t0


WORKLOADS = {cls.name: cls for cls in (Search, IngestBatch)}
