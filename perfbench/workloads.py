"""Setup, measured loops and metric assembly for each workload.

All workloads are closed loops with one client (this thread): the next
operation starts when the previous one has returned and been checked.

- ``search``: rounds of seven single requests in a seeded order (OR,
  AND, k=50, phrase, filtered search with fetch, terms facet, top_hits
  facet). Latency is per request; work is requests.
- ``msearch``: batches through ``match_topk_batch``; every batch is the
  whole ``BATCH_QUERIES``-query pool in a new seeded order. Latency is
  per batch; work is queries.

Set-up (identical for every workload, repeated ``SETUP_REPS`` times):
``build_index`` of the seeded corpus into a fresh directory, then
``load_index`` and one DFS lookup so the handle's collection-stats and
term-dict caches are filled.

A traced run ends with a coverage pass: the layers its own loop does
not reach (for msearch, one round of the search requests; for both,
one refresh cycle of ingest -> reopen -> probe query on a copy of the
index) run once, so every per-layer metric is read on every workload.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback

import numpy as np

import checks
import inputs
import layers
from inputs import ANALYZER, FIELD, ID_COLS

N_DOCS = 2000
NUM_PARTITIONS = 8
SETUP_REPS = 3
# per-query cost of match_topk_batch is flat from 120 to 240 queries
# (about 55 ms/query on local[4]), so a larger batch only leaves fewer
# batches in the measured window
BATCH_QUERIES = 120
WARMUP_QUERIES = 30
REFRESH_BATCH_DOCS = 25
SEARCH_KINDS = ["or", "and", "k50", "phrase", "filtered",
                "facet_terms", "facet_top_hits"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def _sorted_topk(k: int):
    """Weak check for queries whose expected ranking changes under
    ingest: at most k rows, at least one, in descending score order."""
    def check(rows) -> bool:
        scores = [float(r["score"]) for r in rows]
        return 0 < len(rows) <= k and scores == sorted(scores, reverse=True)
    return check


def _ranked(rows) -> list:
    return sorted(((int(r["doc_id"]), float(r["score"])) for r in rows),
                  key=lambda x: (-x[1], x[0]))


class Bench:
    def __init__(self, spark, workdir: str, seed: int, seconds: float,
                 trace: bool, cores: int):
        from elasticsearch_spark.search.bm25 import BM25Params

        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.params = BM25Params()
        self.tracer = layers.Tracer(trace)
        self.jobs = layers.JobGroups(spark) if trace else None
        self.prune_dir = os.environ.get("ES_SPARK_PRUNE_STATS_DIR")
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []
        self.setups: list[dict] = []
        self.cycles: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.oracle = None
        self.oracle_s = 0.0
        self.term_digest = None

    # ------------------------------------------------------- accounting

    def _count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def _observe(self, rec: dict, df, group, rows) -> None:
        """Layer readings of one traced operation."""
        if df is not None:
            rec["plan"] = layers.plan_metrics(df)
        if group is not None:
            rec["stages"] = self.jobs.read(group)
        if self.prune_dir:
            rec["prune"] = layers.drain_prune_stats(self.prune_dir)
        rec["rows"] = len(rows) if rows is not None else 0

    def query(self, kind: str, make_df, check, phase: str, traced: bool,
              index=None, terms=None, record: dict | None = None):
        """Run one query operation: plan, Arrow fetch, Row build, check.

        Traced operations record spans (dfs, plan, fetch, rows) and
        read plan metrics, stage metrics and pruning counters after the
        operation's clock has stopped."""
        from pyspark.sql import DataFrame

        from elasticsearch_spark.arrow_collect import arrow_collected, rows_from_arrow

        on = traced and self.tracer.enabled
        rec = record if record is not None else {}
        rec.update({"kind": kind, "phase": phase, "traced": on})
        group = self.jobs.start(kind) if on else None
        df = rows = None
        ok = False
        t0 = time.perf_counter()
        try:
            if on:
                sp = self.tracer.span
                with sp("op", request=self.tracer.new_request(), kind=kind,
                        phase=phase):
                    if terms is not None:
                        with sp("dfs") as s:
                            index.collection_stats()
                            index.term_stats(FIELD, list(terms))
                        rec["dfs_s"] = s.duration
                    with sp("plan") as s:
                        df = arrow_collected(make_df())
                    rec["plan_s"] = s.duration
                    with sp("fetch") as s:
                        tbl = DataFrame.toArrow(df)
                    rec["fetch_s"] = s.duration
                    with sp("rows") as s:
                        rows = rows_from_arrow(tbl, df.schema)
                    rec["rows_s"] = s.duration
            else:
                rows = arrow_collected(make_df()).collect()
            rec["latency"] = time.perf_counter() - t0
            ok = bool(check(rows))
        except Exception:
            rec["latency"] = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        finally:
            if on:
                self.jobs.stop()
        if on:
            self._observe(rec, df, group, rows)
        self._count(ok, f"{kind} ({phase})")
        self.ops.append(rec)
        return rows, ok

    # ------------------------------------------------------------ setup

    def setup(self, workload: str) -> None:
        from elasticsearch_spark.index.builder import build_index, index_meta, load_index

        spark = self.spark
        t_inputs = time.perf_counter()
        corpus_path = os.path.join(self.workdir, "corpus.parquet")
        self.docs, self.pdf = inputs.write_corpus(spark, N_DOCS, self.seed, corpus_path)
        self.input_bytes = int(sum(len(t.encode()) for t in self.pdf[FIELD]))
        sampler = inputs.QuerySampler(self.pdf, self.rng)
        self.search_q = inputs.search_queries(sampler)
        self.pool = inputs.batch_pool(sampler, BATCH_QUERIES)
        refresh_ids = []
        if self.tracer.enabled:
            self.refresh_docs = inputs.refresh_pool(
                spark, REFRESH_BATCH_DOCS, self.seed + 7919)
            refresh_ids = self.refresh_docs["doc_id"].tolist()
        every = [q for qs in self.search_q.values() for q in qs] + self.pool
        self.inputs_digest = inputs.digest(self.pdf, every, refresh_ids)
        self.inputs_s = time.perf_counter() - t_inputs

        # a traced run reports no setup_s, so one set-up feeds its
        # builder metrics
        for rep in range(1 if self.tracer.enabled else SETUP_REPS):
            path = os.path.join(self.workdir, f"index{rep}")
            group = self.jobs.start("build") if self.jobs else None
            t0 = time.perf_counter()
            with self.tracer.span("build", request=self.tracer.new_request()):
                build_index(spark.read.parquet(corpus_path), path,
                            fields={FIELD: ANALYZER},
                            num_partitions=NUM_PARTITIONS, id_cols=ID_COLS,
                            input_snapshot=self.inputs_digest)
            t_build = time.perf_counter() - t0
            if self.jobs:
                self.jobs.stop()
            index = load_index(spark, path)
            index.collection_stats()
            index.term_stats(FIELD, ["import"])
            rec = {"setup_s": time.perf_counter() - t0, "build_s": t_build,
                   "phase_ms": index_meta(path).get("phase_ms", {})}
            if group is not None:
                rec["stages"] = self.jobs.read(group)
            self.setups.append(rec)
            self._check_build(index)
            if rep:
                shutil.rmtree(self.index_path, ignore_errors=True)
            self.index, self.index_path = index, path
        self.index_bytes = dir_bytes(self.index_path)

        # a traced msearch run covers the search requests once; a traced
        # search run needs no msearch batch (see coverage)
        needs_search = workload == "search" or self.tracer.enabled
        needs_pool = workload == "msearch"
        if needs_search or needs_pool:
            t0 = time.perf_counter()
            self.oracle = checks.Oracle(
                dict(zip(self.pdf["doc_id"].tolist(), self.pdf[FIELD].tolist())),
                ANALYZER, self.params)
            self._check_terms_against_oracle()
            self.expected = {}
            if needs_search:
                self._expect_search()
            if needs_pool:
                for q in self.pool:
                    self.expected[("batch", q.text)] = self.oracle.topk(q.text, 10)
            self.oracle_s = time.perf_counter() - t0

    def _check_build(self, index) -> None:
        """Manifest doc and posting counts against the input and the
        term dictionary, and a digest of term_dict that every set-up
        build of the same corpus must reproduce."""
        parts = index.manifests()
        postings = sum(p.get("num_postings", 0) for p in parts)
        self._count(sum(p.get("num_docs", 0) for p in parts) == len(self.pdf)
                    and sum(p.get("status") == "done" for p in parts) == NUM_PARTITIONS,
                    "build manifest doc count")
        td = index.term_dict.toPandas().sort_values(["field", "term"])
        self._count(int(td["df"].sum()) == postings and len(td) > 0,
                    "build postings == sum(df)")
        h = hashlib.sha256()
        for row in zip(td["field"], td["term"], td["df"], td["cf"],
                       td["max_tf"], td["min_dl"]):
            h.update(repr(row).encode())
        digest = h.hexdigest()[:16]
        if self.term_digest is not None:
            self._count(digest == self.term_digest, "term_dict digest repeats")
        self.term_digest = digest
        self.term_count = len(td)
        self.posting_count = postings

    def _check_terms_against_oracle(self) -> None:
        tf_index = self.oracle.index[0]
        self._count(len(tf_index) == self.term_count and
                    sum(len(p) for p in tf_index.values()) == self.posting_count,
                    "term and posting counts == oracle analysis")

    def _expect_search(self) -> None:
        o = self.oracle
        length = dict(zip(self.pdf["doc_id"].tolist(), self.pdf["length"].tolist()))
        lang = dict(zip(self.pdf["doc_id"].tolist(), self.pdf["lang"].tolist()))
        for kind, qs in self.search_q.items():
            for q in qs:
                if kind in ("or", "k50"):
                    want = o.topk(q.text, q.k)
                elif kind == "and":
                    want = o.topk(q.text, q.k, operator="and")
                elif kind == "phrase":
                    want = o.phrase_topk(q.terms, q.k)
                elif kind == "filtered":
                    want = [(d, s) for d, s in o.topk(q.text, len(self.pdf))
                            if lang[d] == q.lang and length[d] < q.max_length][:q.k]
                elif kind == "facet_terms":
                    want = checks.facet_terms_expected(self.pdf, q.text, q.k)
                else:
                    want = checks.top_hits_expected(self.pdf, q.text, "length", q.k)
                self.expected[(kind, q.text)] = want

    # ---------------------------------------------------------- search

    def search_request(self, q, phase: str, traced: bool):
        from elasticsearch_spark.aggs.translate import aggregate, top_hits
        from elasticsearch_spark.search.api import search
        from elasticsearch_spark.search.executor import match_topk, phrase_topk

        index = self.index
        want = self.expected[(q.kind, q.text)]
        p = self.params
        terms = q.terms
        if q.kind in ("or", "and", "k50"):
            op = "and" if q.kind == "and" else "or"

            def make():
                return match_topk(index, FIELD, q.terms, k=q.k, operator=op, params=p)
        elif q.kind == "phrase":
            def make():
                return phrase_topk(index, FIELD, q.terms, k=q.k, params=p)
        elif q.kind == "filtered":
            body = {"bool": {
                "must": [{"match": {FIELD: q.text}}],
                "filter": [{"term": {"lang": q.lang}},
                           {"range": {"length": {"lt": q.max_length}}}]}}

            def make():
                return search(index, self.docs, body, k=q.k, params=p)
        elif q.kind == "facet_terms":
            terms = None

            def make():
                return aggregate(self.docs, {"by_repo": {"terms": {
                    "field": q.text, "size": q.k}}})

            def check(rows):
                return [(r["key"], int(r["doc_count"])) for r in rows] == want
        else:
            terms = None

            def make():
                return top_hits(self.docs.select("doc_id", "lang", "length"),
                                q.text, "length", size=q.k,
                                tie_col="doc_id").select(q.text, "doc_id", "hit_rank")

            def check(rows):
                return {(r[q.text], int(r["doc_id"]), int(r["hit_rank"]))
                        for r in rows} == want
        if q.kind not in ("facet_terms", "facet_top_hits"):
            def check(rows):
                return checks.same_topk(_ranked(rows), want)
        return self.query(q.kind, make, check, phase, traced, index, terms)

    def search_round(self, n: int, phase: str, traced: bool) -> None:
        for kind in self.rng.permutation(SEARCH_KINDS):
            qs = self.search_q[str(kind)]
            self.search_request(qs[n % len(qs)], phase, traced)

    def run_search(self) -> float:
        self.search_round(0, "warmup", True)
        n = 0
        t0 = time.perf_counter()
        while n < 2 or time.perf_counter() - t0 < self.seconds:
            n += 1
            self.search_round(n, "measure", n % 2 == 1)
        return time.perf_counter() - t0

    # --------------------------------------------------------- msearch

    def msearch_batch(self, batch: list, phase: str, traced: bool) -> None:
        from elasticsearch_spark.search.executor import match_topk_batch

        union = sorted({t for q in batch for t in q.terms})

        def make():
            return match_topk_batch(self.index, FIELD, [q.terms for q in batch],
                                    k=10, params=self.params)

        def check(rows):
            got: dict = {}
            for r in rows:
                got.setdefault(int(r["query_id"]), []).append(r)
            return all(checks.same_topk(_ranked(got.get(i, [])),
                                        self.expected[("batch", q.text)])
                       for i, q in enumerate(batch))

        self.query("batch", make, check, phase, traced, self.index, union,
                   record={"queries": len(batch)})

    def shuffled_pool(self) -> list:
        return [self.pool[int(i)] for i in self.rng.permutation(len(self.pool))]

    def run_msearch(self) -> float:
        self.msearch_batch(self.shuffled_pool()[:WARMUP_QUERIES], "warmup", True)
        n = 0
        t0 = time.perf_counter()
        while n < 2 or time.perf_counter() - t0 < self.seconds:
            n += 1
            self.msearch_batch(self.shuffled_pool(), "measure", n % 2 == 1)
        return time.perf_counter() - t0

    # -------------------------------------------------------- coverage

    def refresh_cycle(self, path: str) -> None:
        """Ingest a small batch into the index at ``path``, reopen it
        (cold handle caches), query for a doc only present in that batch,
        then run a regular query over the two-segment index."""
        from elasticsearch_spark.index.builder import load_index
        from elasticsearch_spark.search.executor import match_topk
        from elasticsearch_spark.streaming.refresh import ingest_batch

        spark, sp, phase = self.spark, self.tracer.span, "coverage"
        batch = self.refresh_docs.copy()
        token = inputs.probe_token(self.seed, 1)
        batch.iloc[0, batch.columns.get_loc(FIELD)] += " " + token
        probe_doc = int(batch["doc_id"].iloc[0])
        rec = {"phase": phase, "docs": len(batch)}
        handle = None
        t0 = time.perf_counter()
        try:
            with sp("cycle", request=self.tracer.new_request(), phase=phase):
                with sp("ingest"):
                    ingest_batch(spark.createDataFrame(batch, "doc_id long, content string"),
                                 path, {FIELD: ANALYZER}, NUM_PARTITIONS, batch_id=1)
                rec["ingest_s"] = time.perf_counter() - t0
                t1 = time.perf_counter()
                with sp("reopen"):
                    handle = load_index(spark, path)
                    handle.collection_stats()
                    handle.term_stats(FIELD, [token])
                rec["reopen_s"] = time.perf_counter() - t1
                t2 = time.perf_counter()
                self.query("probe", lambda: match_topk(handle, FIELD, [token], k=10,
                                                       params=self.params),
                           lambda rows: [int(r["doc_id"]) for r in rows] == [probe_doc],
                           phase, True, record=rec)
                rec["probe_s"] = time.perf_counter() - t2
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self._count(False, "refresh ingest")
        # rec is also the probe query's record in self.ops
        self.cycles.append(rec)
        if handle is not None:
            q = next(q for q in self.search_q["or"] if q.text != inputs.ZERO_HIT)
            self.query("refresh_search",
                       lambda: match_topk(handle, FIELD, q.terms, k=10, params=self.params),
                       _sorted_topk(10), phase, True, handle, q.terms)

    def coverage(self, workload: str) -> None:
        """Traced runs only: exercise, once, each layer the workload's
        own loop does not reach, so every per-layer metric is measured
        on every workload. The search requests already reach every
        query layer, so a traced search run adds only the refresh
        cycle."""
        if workload != "search":
            self.search_round(0, "coverage", True)
        path = os.path.join(self.workdir, "coverage_index")
        shutil.copytree(self.index_path, path)
        self.refresh_cycle(path)


# ----------------------------------------------------------- metrics

def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _measured(b: Bench, workload: str) -> tuple[list, float]:
    """(latencies in seconds, units of work) of the measured window."""
    if workload == "search":
        lat = [r["latency"] for r in b.ops
               if r["phase"] == "measure" and r["kind"] in SEARCH_KINDS]
        return lat, len(lat)
    recs = [r for r in b.ops if r["phase"] == "measure" and r["kind"] == "batch"]
    return [r["latency"] for r in recs], sum(r["queries"] for r in recs)


def measured_latencies(b: Bench, workload: str) -> list:
    return _measured(b, workload)[0]


def end_to_end(b: Bench, workload: str) -> dict:
    lat, work = _measured(b, workload)
    return {
        "setup_s": (layers.median(s["setup_s"] for s in b.setups), "s"),
        "index_bytes_per_input_byte": (b.index_bytes / b.input_bytes, "ratio"),
        "latency_p50_ms": (layers.median(lat) * 1e3, "ms"),
        # work over the time spent inside the engine's calls: the
        # benchmark's own output checks between operations are excluded
        "throughput_per_s": (work / sum(lat), "1/s"),
    }


def per_layer(b: Bench, workload: str, gc_s: float, heap_mb: float,
              rss_mb: float) -> dict:
    """Per-layer metrics of a traced run.

    Per-request layer numbers are means over the workload's own traced
    operations of the measured window; a layer the workload's loop does
    not reach is read from the coverage pass instead."""
    from elasticsearch_spark.index.builder import disk_usage

    out: dict = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    # index.builder + analysis, from the set-up builds
    st = [s.get("stages", {}) for s in b.setups]
    put("builder.docs_per_s", N_DOCS / layers.median(s["build_s"] for s in b.setups),
        "docs/s")
    put("builder.tokenize_encode_write_s", layers.median(
        s["phase_ms"].get("tokenize_encode_write", 0) / 1e3 for s in b.setups), "s")
    put("builder.global_stats_s", layers.median(
        s["phase_ms"].get("global_stats", 0) / 1e3 for s in b.setups), "s")
    put("builder.cpu_s", layers.median(s.get("cpu_s", 0) for s in st), "s")
    put("builder.core_busy_frac", layers.median(
        s.get("stages", {}).get("run_s", 0) / (s["build_s"] * b.cores)
        for s in b.setups), "ratio")
    put("builder.shuffle_bytes", layers.median(s.get("shuffle_bytes", 0) for s in st), "bytes")
    put("builder.spill_bytes", layers.median(s.get("spill_bytes", 0) for s in st), "bytes")
    put("builder.jobs", layers.median(s.get("jobs", 0) for s in st), "count")

    # index.codec, from the served index
    usage = disk_usage(b.index)["fields"][FIELD]
    payload = sum(usage[k] for k in ("doc_ids_bytes", "tfs_bytes",
                                     "norms_bytes", "positions_bytes"))
    put("builder.postings", usage["postings"], "count")
    put("builder.blocks", usage["blocks"], "count")
    put("codec.doc_ids_bytes", usage["doc_ids_bytes"], "bytes")
    put("codec.tfs_bytes", usage["tfs_bytes"], "bytes")
    put("codec.norms_bytes", usage["norms_bytes"], "bytes")
    put("codec.positions_bytes", usage["positions_bytes"], "bytes")
    put("codec.bytes_per_posting", payload / max(usage["postings"], 1), "bytes")

    # query layers: the workload's own traced queries, else coverage
    traced = [r for r in b.ops if r["traced"] and "plan" in r]
    own = [r for r in traced if r["phase"] == "measure"]
    qops = own or [r for r in traced if r["phase"] == "coverage"]
    plan = [r["plan"] for r in qops]
    stages = [r.get("stages", {}) for r in qops]
    put("executor.dfs_s", _mean(r.get("dfs_s", 0.0) for r in qops), "s")
    put("executor.plan_s", _mean(r["plan_s"] for r in qops), "s")
    put("executor.jobs_per_request", _mean(s.get("jobs", 0) for s in stages), "count")
    put("executor.stages_per_request", _mean(s.get("stages", 0) for s in stages), "count")
    put("executor.tasks_per_request", _mean(s.get("tasks", 0) for s in stages), "count")
    rows_read = sum(p["scan.rows_read"] for p in plan)
    rows_kept = sum(p["scan.rows_kept"] for p in plan)
    put("scan.rows_read", _mean(p["scan.rows_read"] for p in plan), "rows")
    put("scan.rows_kept", _mean(p["scan.rows_kept"] for p in plan), "rows")
    put("scan.kept_frac", rows_kept / rows_read if rows_read else 0.0, "ratio")
    put("scan.bytes", _mean(p["scan.bytes"] for p in plan), "bytes")
    put("scan.files", _mean(p["scan.files"] for p in plan), "count")
    put("scan.time_ms", _mean(p["scan.time_ms"] for p in plan), "ms")
    put("exchange.bytes", _mean(p["exchange.bytes"] for p in plan), "bytes")
    put("exchange.records", _mean(p["exchange.records"] for p in plan), "rows")

    scored = [r for r in qops if r["plan"]["scorer.nodes"]] or qops
    run_s = [r.get("stages", {}).get("post_shuffle_run_s", 0.0) for r in scored]
    py_s = [r["plan"]["scorer.python_s"] for r in scored]
    put("scorer.run_s", _mean(run_s), "s")
    put("scorer.python_s", _mean(py_s), "s")
    # 1 when the Python time came from the plan's FlatMapGroupsInPandas
    # metrics, 0 when they read zero and only stage run time was left
    put("scorer.python_from_plan", _mean(1.0 if p > 0 else 0.0 for p in py_s), "ratio")
    put("scorer.arrow_sent_bytes", _mean(r["plan"]["scorer.arrow_sent_bytes"] for r in scored), "bytes")
    put("scorer.arrow_recv_bytes", _mean(r["plan"]["scorer.arrow_recv_bytes"] for r in scored), "bytes")
    busy = sum(r["latency"] for r in scored) * b.cores
    put("scorer.core_busy_frac", sum(run_s) / busy if busy else 0.0, "ratio")
    blocks = sum(r.get("prune", {}).get("blocks", 0) for r in qops)
    decoded = sum(r.get("prune", {}).get("decoded", 0) for r in qops)
    put("scorer.blocks", blocks / len(qops), "count")
    put("scorer.blocks_decoded", decoded / len(qops), "count")
    put("scorer.decode_frac", decoded / blocks if blocks else 0.0, "ratio")

    put("collect.fetch_s", _mean(r["fetch_s"] for r in qops), "s")
    put("collect.rows_s", _mean(r["rows_s"] for r in qops), "s")
    put("collect.rows", _mean(r["rows"] for r in qops), "rows")

    # search.api / aggs.translate: per-request-type latency
    phase = "measure" if workload == "search" else "coverage"
    for kind, name in (("or", "search.or_p50_ms"), ("and", "search.and_p50_ms"),
                       ("k50", "search.k50_p50_ms"), ("phrase", "search.phrase_p50_ms"),
                       ("filtered", "search.filtered_p50_ms")):
        put(name, layers.median(r["latency"] for r in b.ops
                                if r["kind"] == kind and r["phase"] == phase) * 1e3, "ms")
    put("aggs.facet_p50_ms", layers.median(
        r["latency"] for r in b.ops if r["phase"] == phase
        and r["kind"] in ("facet_terms", "facet_top_hits")) * 1e3, "ms")

    # streaming.refresh, from the coverage pass
    cyc = b.cycles
    put("refresh.ingest_s", layers.median(c["ingest_s"] for c in cyc), "s")
    put("refresh.reopen_s", layers.median(c["reopen_s"] for c in cyc), "s")
    put("refresh.probe_s", layers.median(c["probe_s"] for c in cyc), "s")
    put("refresh.search_p50_ms", layers.median(
        r["latency"] for r in b.ops
        if r["kind"] == "refresh_search") * 1e3, "ms")

    # driver JVM
    put("driver.gc_s", gc_s, "s")
    put("driver.heap_used_mb", heap_mb, "MB")
    put("driver.peak_rss_mb", rss_mb, "MB")

    # the workload's own latency distribution and the tracing overhead
    lat, _ = _measured(b, workload)
    put("latency.samples", len(lat), "count")
    put("latency.p90_ms", layers.percentile(lat, 90) * 1e3, "ms")
    # highest percentile with ten samples beyond it; 0 when even the
    # median has fewer, so latency.p90_ms is then only indicative
    put("latency.tail_pct", layers.tail_percentile(len(lat)) or 0.0, "%")
    kinds = SEARCH_KINDS if workload == "search" else ["batch"]
    pairs = [(r["traced"], r["latency"]) for r in b.ops
             if r["phase"] == "measure" and r["kind"] in kinds]
    on = [x for t, x in pairs if t]
    off = [x for t, x in pairs if not t] or on
    put("trace.traced_p50_ms", layers.median(on) * 1e3, "ms")
    put("trace.untraced_p50_ms", layers.median(off) * 1e3, "ms")
    put("trace.overhead_frac", layers.median(on) / layers.median(off) - 1.0, "ratio")

    # self time per span name, as a share of all traced root time
    self_s = b.tracer.self_times()
    for name in ("build", "op", "dfs", "plan", "fetch", "rows", "cycle",
                 "ingest", "reopen"):
        put(f"self.{name}_s", self_s.get(name, 0.0), "s")

    put("failed_frac", b.failed / max(b.attempted, 1), "ratio")
    return out
