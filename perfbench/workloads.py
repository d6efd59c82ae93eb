"""The workloads.  Each is a closed loop with one client: the next
operation starts when the previous one returns.

``ingest``  set-up: source files -> ``build_segments_from_files`` ->
            ``merge_to_single`` with its defaults; then timed rebuilds.
            No search.
``search``  a one-segment store, opened with ``to_indexed_table``, serving
            the seeded tail/head interleave of :mod:`queries`; in traced
            runs one write cycle after the timed window (update, commit,
            reopen, two searches) measures the update path.

Every result is checked: searches against the oracle's top-k, builds and
merges against the corpus' doc and posting counts.  A mismatch or an
exception counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

import queries as Q
from corpus_gen import write_corpus
from stats import ratio
from rss import tree_cpu_s
from spans import Tracer

KEYS = ["conv_id", "turn_idx"]
FIELDS = {"text": "standard"}
VOCAB = 500
CONVS = 400
INGEST_FILES = 10        # merge_to_single's fan-in: one merge round
SERVE_FILES = 1          # one segment: merge_to_single has nothing to do
UPDATE_BATCH = 50        # turns rewritten by the closing write cycle
SETUP_REPS = 3           # store opens in the search set-up
MIN_BUILDS = 5
TOP_K = 10
QUERIES = 64             # cycled when a run outlasts them
# the source files' key and text types: a batch must match them
BATCH_SCHEMA = pa.schema([("conv_id", pa.string()),
                          ("turn_idx", pa.int32()), ("text", pa.string())])


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Run:
    """State of one benchmark run: its Spark session, tracer, scratch
    directory, operation counts and the values the metrics read."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str,
                 cores: int):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = cores
        self.spark = None
        self.tracer = Tracer(enabled=trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.v: dict = {}          # measured values, read by metrics()
        self.ops: list[dict] = []  # timed operations of the loop

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the loop must go on and report the failure
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    # ---------------------------------------------------------- setup --
    def start_session(self) -> None:
        from bleve_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.v["session_s"] = t1 - t0
        self.tracer.sc = self.spark.sparkContext
        self.tracer.record("session.start", t0, t1)

    def traced(self, i: int, period: int = 1) -> bool:
        """Traced runs alternate runs of ``period`` traced and ``period``
        untraced operations (a whole search pass each, so both halves hold
        the same shapes); the two halves give the tracing overhead."""
        self.tracer.enabled = self.trace and (i // period) % 2 == 0
        return self.tracer.enabled

    def analysis(self, texts: list[str]) -> None:
        if not self.trace:
            return
        from bleve_spark.analysis.analyzers import get_analyzer

        an = get_analyzer("standard")
        t0 = time.perf_counter()
        _, _, codes, _, _ = an.analyze_batch(texts)
        t1 = time.perf_counter()
        self.tracer.record("analysis", t0, t1, turns=len(texts),
                           tokens=int(len(codes)))

    def build(self, paths: list[str], root: str) -> list[dict] | None:
        from bleve_spark.index.segments import build_segments_from_files

        with self.tracer.span("segments.build") as sp:
            stats = build_segments_from_files(
                self.spark, paths, KEYS, FIELDS, root, resume=False)
        if sp is not None:
            sp.attrs.update(
                busy_s=sum(s["seconds"] for s in stats),
                postings=sum(s["postings"] for s in stats),
                unique_terms=sum(s["unique_terms"] for s in stats),
                bytes=sum(s["bytes"] for s in stats))
        return stats

    def check_build(self, stats, turns: int, postings: int) -> None:
        docs = sum(s["doc_count"] for s in stats)
        got = sum(s["postings"] for s in stats)
        if docs != turns or got != postings:
            self.fail(f"build: {docs} docs / {got} postings, "
                      f"expected {turns} / {postings}")

    def merge(self, root: str) -> str | None:
        """``merge_to_single`` with its defaults, timed as set-up; records
        the merge layer's counts.  Returns the merged root."""
        from bleve_spark.index.merge import merge_to_single

        t0 = time.perf_counter()
        with self.tracer.span("merge") as sp:
            final = self.attempt(
                "merge", lambda: merge_to_single(self.spark, root))
        self.v["setup_once_s"].append(time.perf_counter() - t0)
        if final is not None and sp is not None:
            sp.attrs.update(self._merge_counts(root, final))
        return final

    def _merge_counts(self, root: str, final: str) -> dict:
        from pyspark.sql import functions as F

        from bleve_spark.index.segments import SegmentStore

        levels = sorted(
            (d for d in os.listdir(os.path.dirname(root))
             if d.startswith(os.path.basename(root) + "_L")),
            key=lambda d: int(d.rsplit("_L", 1)[1]))
        groups = 0
        rewritten = 0
        for d in levels:
            lvl = os.path.join(os.path.dirname(root), d)
            groups += (SegmentStore(self.spark, lvl).chunk_rows()
                       .select("segment_id", "field", "term").distinct()
                       .agg(F.count(F.lit(1))).first()[0])
            rewritten += tree_bytes(os.path.join(lvl, "postings"))
            rewritten += tree_bytes(os.path.join(lvl, "docs"))
        base = (tree_bytes(os.path.join(root, "postings"))
                + tree_bytes(os.path.join(root, "docs")))
        return {"rounds": len(levels), "term_groups": groups,
                "bytes_rewritten": rewritten,
                "write_amp": ratio(rewritten, base)}

    def check_store(self, root: str, turns: int, postings: int) -> None:
        from pyspark.sql import functions as F

        from bleve_spark.index.segments import SegmentStore

        store = SegmentStore(self.spark, root)
        docs = store.doc_table().count()
        got = store.chunk_rows().agg(F.sum("n_docs")).first()[0]
        if docs != turns or got != postings:
            self.fail(f"merged store: {docs} docs / {got} postings, "
                      f"expected {turns} / {postings}")

    def open(self, store, source):
        with self.tracer.span("segments.open"):
            t0 = time.perf_counter()
            idx = store.to_indexed_table(source, KEYS, FIELDS)
            dt = time.perf_counter() - t0
        return idx, dt

    # --------------------------------------------------------- search --
    def search(self, idx, store, oracle, query: dict) -> dict:
        """One search (or block-max top-k); returns what the check reads.
        With tracing on, the query is also compiled alone (compile time
        and jobs) and its plan's Exchange count is read."""
        from bleve_spark.search.searcher import compile_query, search

        node = Q.to_node(oracle, query) if self.tracer.enabled else None
        if query["shape"] == "blockmax":
            from bleve_spark.search.blockmax import \
                pruned_disjunction_topk

            with self.tracer.span("blockmax"):
                rows = pruned_disjunction_topk(
                    store, idx.stats, KEYS, Q.FIELD, query["q"],
                    k=TOP_K).collect()
            rows.sort(key=lambda r: (-r["score"], r["conv_id"],
                                     r["turn_idx"]))
            return {"hits": [{"id": f"{r['conv_id']}:{r['turn_idx']}",
                              "score": float(r["score"])} for r in rows],
                    "total": None}
        if self.tracer.enabled:
            with self.tracer.span("searcher.compile"):
                df = compile_query(idx, query["q"])
            with self.tracer.span("searcher.explain"):
                plan = df._jdf.queryExecution().executedPlan().toString()
        with self.tracer.span("searcher.execute") as sp:
            res = search(idx, query["q"], size=TOP_K)
        if sp is not None:
            sp.attrs.update(exchanges=plan.count("Exchange"),
                            postings_examined=Q.postings_examined(
                                oracle, node))
        return {"hits": res["hits"], "total": res["total_hits"]}

    def timed(self, i: int, period: int, cls: str, fn):
        """Run operation ``i`` of the loop and record its wall and CPU
        time (the CPU time of the whole process tree, read outside the
        wall-clock window)."""
        traced = self.traced(i, period)
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with self.tracer.span("op", req=i, cls=cls):
            out = fn()
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        self.tracer.enabled = self.trace
        self.ops.append({"s": dt, "cpu_s": cpu, "cls": cls,
                         "traced": traced})
        return out

    def timed_search(self, i, idx, store, oracle, query, log):
        out = self.timed(i, len(Q.PASS), query["cls"], lambda: self.attempt(
            f"search {query['q']}",
            lambda: self.search(idx, store, oracle, query)))
        if out is not None:
            log.append((query, out))
        return out

    def check_searches(self, oracle, log) -> None:
        for query, out in log:
            why = Q.check_hits(oracle, Q.to_node(oracle, query),
                               out["hits"], out["total"], TOP_K)
            if why:
                self.fail(f"{query['cls']} {query['q']}: {why}")

    # --------------------------------------------------------- metrics --
    def metrics(self, peak_rss_mb: float) -> dict:
        if not self.trace:
            return self._end_to_end(peak_rss_mb)
        return self._per_layer()

    def _op_times(self, traced=None, cls=None, key="s"):
        return [o[key] for o in self.ops
                if (traced is None or o["traced"] == traced)
                and (cls is None or o["cls"] == cls)]

    def _end_to_end(self, peak_rss_mb: float) -> dict:
        v = self.v
        return {
            "setup_s": (v["session_s"] + sum(v["setup_once_s"])
                        + _median(v.get("setup_rep_s", [])), "s"),
            "op_cpu_s": (_median(self._op_times(key="cpu_s")), "s"),
            "index_bytes_per_text_byte": (
                ratio(v.get("index_bytes", 0), v["text_bytes"]), "ratio"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def _per_layer(self) -> dict:
        tr = self.tracer

        def med(name, get):
            return _median([get(s) for s in tr.named(name)])

        def last(name, key):
            spans = tr.named(name)
            return spans[-1].attrs.get(key, 0) if spans else 0

        an = tr.named("analysis")
        return {
            "session.start_s": (med("session.start", lambda s: s.dur), "s"),
            "analysis.s_per_kturn": (
                ratio(an[0].dur, an[0].attrs["turns"] / 1000.0)
                if an else 0.0, "s"),
            "analysis.tokens": (an[0].attrs["tokens"] if an else 0,
                                "count"),
            "segments.build.wall_s": (med("segments.build",
                                          lambda s: s.dur), "s"),
            "segments.build.task_busy_s": (
                med("segments.build", lambda s: s.attrs["busy_s"]), "s"),
            "segments.build.wait_s": (
                med("segments.build",
                    lambda s: s.dur * self.cores - s.attrs["busy_s"]),
                "s"),
            "segments.build.tasks": (med("segments.build",
                                         lambda s: s.tasks), "count"),
            "segments.postings": (last("segments.build", "postings"),
                                  "count"),
            "segments.unique_terms": (
                last("segments.build", "unique_terms"), "count"),
            "segments.bytes": (last("segments.build", "bytes"), "bytes"),
            "segments.open_s": (med("segments.open", lambda s: s.dur),
                                "s"),
            "segments.open.jobs": (med("segments.open", lambda s: s.jobs),
                                   "count"),
            "merge.s": (med("merge", lambda s: s.dur), "s"),
            "merge.rounds": (last("merge", "rounds"), "count"),
            "merge.term_groups": (last("merge", "term_groups"), "count"),
            "merge.bytes_rewritten": (last("merge", "bytes_rewritten"),
                                      "bytes"),
            "merge.write_amp": (last("merge", "write_amp"), "ratio"),
            "merge.jobs": (med("merge", lambda s: s.jobs), "count"),
            "merge.tasks": (med("merge", lambda s: s.tasks), "count"),
            "searcher.compile_s": (med("searcher.compile",
                                       lambda s: s.dur), "s"),
            "searcher.compile.jobs": (med("searcher.compile",
                                          lambda s: s.jobs), "count"),
            "searcher.execute_s": (med("searcher.execute",
                                       lambda s: s.dur), "s"),
            "searcher.jobs": (med("searcher.execute", lambda s: s.jobs),
                              "count"),
            "searcher.stages": (med("searcher.execute",
                                    lambda s: s.stages), "count"),
            "searcher.tasks": (med("searcher.execute", lambda s: s.tasks),
                               "count"),
            "searcher.exchanges": (
                med("searcher.execute", lambda s: s.attrs["exchanges"]),
                "count"),
            "searcher.postings_examined": (
                med("searcher.execute",
                    lambda s: s.attrs["postings_examined"]), "count"),
            "op.wall_p50_s": (_median(self._op_times(traced=False)), "s"),
            "search.tail_p50_s": (
                _median(self._op_times(traced=False, cls="tail")), "s"),
            "search.head_p50_s": (
                _median(self._op_times(traced=False, cls="head")), "s"),
            "blockmax.s": (med("blockmax", lambda s: s.dur), "s"),
            "blockmax.jobs": (med("blockmax", lambda s: s.jobs), "count"),
            "update.s": (med("update", lambda s: s.dur), "s"),
            "update.jobs": (med("update", lambda s: s.jobs), "count"),
            "update.tasks": (med("update", lambda s: s.tasks), "count"),
            "store.segments": (self.v.get("segments", 0), "count"),
            "store.deleted_docs": (self.v.get("deleted_docs", 0), "count"),
            "trace.overhead_ratio": (
                ratio(_median(self._op_times(traced=True)),
                      _median(self._op_times(traced=False))), "ratio"),
        }


# ------------------------------------------------------------ workloads --

def _corpus(run: Run, n_files: int):
    paths, pdf = write_corpus(run.seed, CONVS, n_files, VOCAB,
                              run.path("src"))
    run.v["text_bytes"] = int(sum(len(t.encode()) for t in pdf["text"]))
    return paths, pdf


def _expected_postings(pdf) -> int:
    from bleve_spark.analysis.analyzers import get_analyzer

    an = get_analyzer("standard")
    return sum(len({t for t, _ in an.analyze_terms(s)})
               for s in pdf["text"])


def ingest(run: Run) -> None:
    paths, pdf = _corpus(run, INGEST_FILES)
    turns, postings = len(pdf), _expected_postings(pdf)
    run.start_session()
    run.analysis(pq.read_table(paths[0], columns=["text"])
                 .column("text").to_pylist())
    # set-up: the one-time pipeline, files -> segments -> merged store
    root = run.path("store")
    t0 = time.perf_counter()
    stats = run.attempt("build", lambda: run.build(paths, root))
    run.v["setup_once_s"] = [time.perf_counter() - t0]
    if stats is None:
        raise RuntimeError("build failed: " + "; ".join(run.errors))
    run.check_build(stats, turns, postings)
    final = run.merge(root)
    if final is not None:
        run.check_store(final, turns, postings)
        run.v["index_bytes"] = tree_bytes(final)

    t_end = time.perf_counter() + run.seconds
    i = 0
    while time.perf_counter() < t_end or i < MIN_BUILDS:
        root = run.path(f"build{i}")
        stats = run.timed(i, 1, "build", lambda: run.attempt(
            "build", lambda: run.build(paths, root)))
        if stats is not None:
            run.check_build(stats, turns, postings)
        shutil.rmtree(root, ignore_errors=True)
        i += 1


def _serve_setup(run: Run):
    """Corpus, oracle, the served store and three opens (the set-up)."""
    from bleve_spark.index.segments import SegmentStore

    from tests.oracle import PyIndex

    paths, pdf = _corpus(run, SERVE_FILES)
    oracle = PyIndex(pdf.to_dict("records"),
                     key_fn=lambda r: (r["conv_id"], int(r["turn_idx"])),
                     fields=FIELDS)
    queries = Q.make_queries(oracle, run.seed, QUERIES)
    run.start_session()
    run.analysis(pq.read_table(paths[0], columns=["text"])
                 .column("text").to_pylist())
    root = run.path("store")
    t0 = time.perf_counter()
    stats = run.attempt("build", lambda: run.build(paths, root))
    run.v["setup_once_s"] = [time.perf_counter() - t0]
    if stats is None:
        raise RuntimeError("build failed: " + "; ".join(run.errors))
    run.check_build(stats, len(pdf), _expected_postings(pdf))
    final = run.merge(root)
    if final is None:
        raise RuntimeError("merge failed: " + "; ".join(run.errors))
    run.v["index_bytes"] = tree_bytes(final)
    store = SegmentStore(run.spark, final)
    source = run.spark.read.parquet(run.path("src"))
    for _ in range(SETUP_REPS):
        idx, dt = run.open(store, source)
        run.v.setdefault("setup_rep_s", []).append(dt)
    return pdf, oracle, queries, store, source, idx


def search(run: Run) -> None:
    pdf, oracle, queries, store, source, idx = _serve_setup(run)
    log: list = []
    # warm-up: one head query (it decodes and scores), checked, not timed
    q = queries[1]
    out = run.attempt("search", lambda: run.search(idx, store, oracle, q))
    if out is not None:
        log.append((q, out))
    # whole passes until the time is up, so every run's median is over
    # the same mix of shapes; a traced run makes a traced and an untraced
    # pass at least
    n = len(Q.PASS)
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i % n or time.perf_counter() < t_end or (run.trace and i < 2 * n):
        run.timed_search(i, idx, store, oracle,
                         queries[(i + n) % len(queries)], log)
        i += 1
    run.check_searches(oracle, log)
    if run.trace:
        _write_cycle(run, pdf, oracle, queries, store, source)


def _write_cycle(run: Run, pdf, oracle, queries, store, source) -> None:
    """Traced runs only, after the timed window: rewrite a seeded batch of
    existing turns (``update_docs`` + ``commit_snapshot``), reopen, and
    run one tail and one head search over the store that now has
    deletions and a second segment.  Checked against the oracle with the
    batch applied; its timings are per-layer metrics only."""
    import random

    rng = random.Random(run.seed)
    rows = pdf.to_dict("records")
    batch = [{"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
              "text": rng.choice(rows)["text"] + " churn"}
             for r in rng.sample(rows, UPDATE_BATCH)]
    bdir = run.path("batch")
    os.makedirs(bdir)
    pq.write_table(pa.Table.from_pylist(batch, schema=BATCH_SCHEMA),
                   os.path.join(bdir, "part-0.parquet"))
    bdf = run.spark.read.parquet(bdir)
    with run.tracer.span("update"):
        ok = run.attempt("update", lambda: (
            store.update_docs(bdf, KEYS, FIELDS), store.commit_snapshot()))
    if ok is None:
        return
    idx, _ = run.open(store, source)
    reads = [q for q in queries if q["shape"] != "blockmax"]
    log = []
    for cls in ("tail", "head"):
        q = next(q for q in reads if q["cls"] == cls)
        out = run.attempt("search", lambda: run.search(idx, store, oracle,
                                                        q))
        if out is not None:
            log.append((q, out))
    seg_cards = [oracle.field_card[Q.FIELD],
                 Q.distinct_terms(r["text"] for r in batch)]
    Q.replace_rows(oracle, Q.row_index(oracle), batch, seg_cards)
    run.check_searches(oracle, log)
    if idx.stats.doc_count != len(pdf):
        run.fail(f"update: {idx.stats.doc_count} live docs, "
                 f"expected {len(pdf)}")
    run.v["segments"] = len(store.manifests())
    run.v["deleted_docs"] = sum(store.deleted_counts().values())


WORKLOADS = {"ingest": ingest, "search": search}
