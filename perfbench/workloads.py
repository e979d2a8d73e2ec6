"""The workloads: ``serve`` and ``bulk``.

Each is a closed loop with one client driven from this process: the
next operation is sent only after the previous one returned. Each
workload function runs set-up, the timed phase (about ``--seconds``)
and the output check, and returns the end-to-end metrics plus the state
the traced run's layer metrics need. Why each workload exists, and
which metric each layer should move, is written down in ``README.md``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

from . import check, corpus

SERVE_CONVS = 1000  # ~11k docs: two 10k-doc shards
# ~131k docs at 64k-doc shards, one shard per part: two full shards above
# AUTO_BMW_MIN_SHARD plus a tail, built as three concurrent parts
BULK_CONVS = 12300
BULK_REL_DOCS = 8000  # relational bm25_search input (no index)
BATCH_QUERIES = 120
BATCH_SEL_SHARE = 0.7  # selective share of a batch: BMW and TAAT both run
# one cycle of the bulk read loop: op and query shape in fixed shares
# (two one-shots per query shape, three relational calls per shape, two
# batches), interleaved so that a slow stretch of the host falls on every
# kind; the cost mix is the same from seed to seed, and each kind has
# several samples in a run
BULK_CYCLE = (("oneshot", "sel"), ("relational", "fixture"),
              ("oneshot", "fixture"), ("relational", "tail"),
              ("oneshot", "tail"), ("batch", ""),
              ("relational", "fixture"), ("oneshot", "sel"),
              ("relational", "tail"), ("oneshot", "fixture"),
              ("batch", ""), ("relational", "fixture"),
              ("oneshot", "tail"), ("relational", "tail"))
BULK_CYCLE_S = 18.0  # nominal cycle time on a 4-core host
K = 10
CHECK_SAMPLE = 12
BULK_CHECK_SAMPLE = 2  # per read shape: the oracle scans ~130k docs a query


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result lines."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def cycles(seconds: float, nominal_s: float) -> int:
    """Whole workload cycles that fill about ``seconds``."""
    return max(1, round(seconds / nominal_s))


def p90(xs) -> float:
    """90th percentile, interpolated between the two nearest samples."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Run:
    """Per-run state shared by set-up, the timed loop and the check."""

    def __init__(self, spark, tracer, seed: int, seconds: float,
                 work_dir: str, t_setup0: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.t_setup0 = t_setup0
        self.attempted = 0
        self.failed = 0
        self.context: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def call(self, name: str, fn, rid=None, **attrs):
        with self.tracer.span(name, rid, **attrs):
            return fn()

    def setup_done(self) -> float:
        return time.perf_counter() - self.t_setup0

    def checked(self, ok: bool) -> None:
        """One output check; a mismatch counts as a failed operation."""
        self.failed += 0 if ok else 1


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def stored_ratio(index_dir: str, pdf) -> float:
    text_bytes = sum(len(t.encode()) + len(d.encode())
                     for d, t in zip(pdf["doc_id"], pdf["text"]))
    return dir_bytes(index_dir) / text_bytes


def build(run: Run, pdf, name: str, **geometry) -> str:
    from oboyu_spark.operators.postings import build_index

    idx = run.path(name)
    docs = corpus.to_frame(run.spark, pdf)
    run.call("postings.build_index",
             lambda: build_index(docs, idx, **geometry))
    return idx


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

# one cycle of the serve stream is 10 requests: five new queries, one of
# each shape in corpus.QUERY_KINDS, then five repeats, each resending an
# earlier query of its shape drawn with a Zipf distribution over that
# shape's history (never-seen terms are not repeated); each block in
# seeded order. Shape and request kind are paired in fixed shares:
# mostly plain BM25, one mode "and", one scorer "auto" and two hybrid
# (one new, one repeat). A fixed shape x kind mix keeps the cost mix, and
# so the latency percentiles, the same from seed to seed.
SERVE_NEW = (("fixture", "hybrid"), ("tail", "and"), ("sel", "plain"),
             ("dup", "plain"), ("unseen", "plain"))
SERVE_REPEAT = (("fixture", "plain"), ("tail", "plain"), ("sel", "auto"),
                ("dup", "plain"), ("fixture", "hybrid"))
SERVE_CYCLE = SERVE_NEW + SERVE_REPEAT
SERVE_CYCLE_S = 3.5  # nominal cycle time on a 4-core host


def serve_request(query: str, kind: str) -> dict:
    if kind == "and":
        return {"query": query, "mode": "and"}
    if kind == "auto":
        return {"query": query, "scorer": "auto"}
    if kind == "hybrid":
        return {"query": query, "mode": "hybrid"}
    return {"query": query}


def build_ivf(run: Run, pdf, name: str) -> str:
    from oboyu_spark.operators.embed import embed_docs
    from oboyu_spark.operators.similarity import ivf_build

    ivf_dir = run.path(name)

    def go():
        emb = embed_docs(corpus.to_frame(run.spark, pdf), dim=16)
        ivf_build(emb.withColumnRenamed("doc_id", "vec_id"), ivf_dir,
                  n_lists=16, sample=5000, iters=5, seed=run.seed)

    run.call("similarity.ivf_build", go)
    return ivf_dir


def open_reader(run: Run, idx: str, ivf_dir: str):
    from oboyu_spark.jobs.serve_index import handle_request
    from oboyu_spark.operators.searchidx import IndexReader

    reader = run.call("searchidx.IndexReader",
                      lambda: IndexReader(run.spark, idx))
    # the serve_index job's own warm-up before it declares readiness
    run.call("serve_index.handle_request",
             lambda: handle_request(reader, {"query": "warmup", "k": 1}),
             kind="warmup")
    run.call("serve_index.handle_request",
             lambda: handle_request(reader, {"query": "warmup", "k": 1,
                                             "mode": "hybrid"},
                                    ivf_dir=ivf_dir),
             kind="warmup")
    return reader


def serve_stream(seed: int, n_cycles: int) -> list[tuple[str, dict]]:
    """The seeded request stream (see SERVE_CYCLE)."""
    rng = np.random.default_rng([seed, 3])
    fixtures = corpus.fixture_queries(seed)
    history: dict[str, list[str]] = {shape: [] for shape, _ in SERVE_REPEAT}
    out = []
    for c in range(n_cycles):
        for i in rng.permutation(len(SERVE_NEW)):
            shape, kind = SERVE_NEW[i]
            q = corpus.make_query(rng, shape, fixtures, f"{seed}c{c}")
            out.append((kind, serve_request(q, kind)))
            if shape in history:
                history[shape].append(q)
        for i in rng.permutation(len(SERVE_REPEAT)):
            shape, kind = SERVE_REPEAT[i]
            past = history[shape]
            q = past[corpus.zipf_ranks(rng, len(past), 1)[0]]
            out.append((kind, serve_request(q, kind)))
    return out


def run_requests(run: Run, reader, ivf_dir: str, stream):
    """Closed loop over ``stream``: each request is sent when the
    previous response has arrived."""
    from oboyu_spark.jobs.serve_index import handle_request

    out = []
    for i, (kind, req) in enumerate(stream):
        t0 = time.perf_counter()
        resp = run.call("serve_index.handle_request",
                        lambda: handle_request(reader, req, ivf_dir=ivf_dir),
                        rid=i, kind=kind)
        out.append({"req": req, "kind": kind, "resp": resp,
                    "ms": (time.perf_counter() - t0) * 1e3})
    return out


def check_serve(run: Run, records, oracle, ivf_dir: str) -> None:
    from oboyu_spark.operators.embed import embed_text
    from oboyu_spark.operators.fusion import rrf_fuse_rows
    from oboyu_spark.operators.similarity import IvfReader

    errors = [r for r in records if "error" in r["resp"]]
    for _ in errors:
        run.checked(False)
    distinct = {}
    for r in records:
        if "error" not in r["resp"]:
            distinct.setdefault((r["req"]["query"], r["kind"]), r)
    rng = np.random.default_rng([run.seed, 5])
    ivf = IvfReader(run.spark, ivf_dir, cache=False)
    try:
        for r in _sample(rng, list(distinct.values()), CHECK_SAMPLE):
            q = r["req"]["query"]
            got = [(x["doc_id"], x["score"]) for x in r["resp"]["results"]]
            if r["kind"] == "hybrid":
                text = oracle.search(q, k=20)
                qvec = embed_text(q, dim=ivf.meta["dim"])
                vec = [(str(v["vec_id"]), float(v["cosine"]))
                       for v in ivf.search(qvec, k=20, nprobe=4).collect()]
                ok = check.check_fused(got, rrf_fuse_rows(text, vec,
                                                          limit=K))
            else:
                ok = check.check_query(oracle, q, got, K,
                                       mode="and" if r["kind"] == "and"
                                       else "or")
            run.checked(ok)
    finally:
        ivf.close()


def serve(run: Run) -> dict:
    pdf = corpus.make_corpus(run.spark, SERVE_CONVS, run.seed)
    build_s, idx = _timed(lambda: build(run, pdf, "serve_idx",
                                        shard_size=10_000, salt_chunk=50_000,
                                        shards_per_part=16))
    ivf_dir = build_ivf(run, pdf, "serve_ivf")
    reader = open_reader(run, idx, ivf_dir)
    setup_s = run.setup_done()
    log(f"set up in {setup_s:.1f}s")

    # whole cycles only, as many as fit --seconds at the nominal pace: the
    # same work in every run, whatever the seed
    stream = serve_stream(run.seed, cycles(run.seconds, SERVE_CYCLE_S))
    t0 = time.perf_counter()
    records = run_requests(run, reader, ivf_dir, stream)
    wall = time.perf_counter() - t0
    # BM25 requests and hybrid requests are reported apart: a hybrid
    # request runs both branches, so mixing them would blur both
    lat = [r["ms"] for r in records if r["kind"] != "hybrid"]
    hyb = [r["ms"] for r in records if r["kind"] == "hybrid"]
    m = {"setup_s": setup_s,
         "query_p50_ms": statistics.median(lat),
         "query_p90_ms": p90(lat),
         "queries_per_s": len(records) / wall,
         "alt_path_p50_ms": statistics.median(hyb),
         "build_docs_per_s": len(pdf) / build_s,
         "stored_bytes_per_input_byte": stored_ratio(idx, pdf)}
    run.context["named"] = {
        "serve_p50_ms": m["query_p50_ms"], "serve_p90_ms": m["query_p90_ms"],
        "hybrid_p50_ms": m["alt_path_p50_ms"], "requests": len(records),
        "requests_by_kind": {k: sum(r["kind"] == k for r in records)
                             for k in {k for _, k in SERVE_CYCLE}},
    }
    run.attempted += len(records)
    log("timed phase done")
    oracle = check.oracle_for(pdf)
    check_serve(run, records, oracle, ivf_dir)
    return m, {"pdf": pdf, "idx": idx, "ivf": ivf_dir, "reader": reader,
               "records": records, "oracle": oracle}




# ---------------------------------------------------------------------------
# bulk: the one-shot jobs (build, query) with no warm state
# ---------------------------------------------------------------------------

def oneshot(run: Run, idx: str, query: str, rid=None):
    from oboyu_spark.operators.searchidx import search_index

    return run.call(
        "searchidx.search_index",
        lambda: search_index(run.spark, idx, query, k=K,
                             scorer="auto").collect(),
        rid=rid, kind="oneshot")


def batch(run: Run, idx: str, queries: list[str], rid=None):
    from oboyu_spark.operators.searchidx import search_index

    return run.call(
        "searchidx.search_index",
        lambda: search_index(run.spark, idx, queries, k=K,
                             scorer="auto").collect(),
        rid=rid, kind="batch")


def relational(run: Run, docs, query: str, rid=None):
    from oboyu_spark.operators.bm25 import bm25_search

    return run.call("bm25.bm25_search",
                    bm25_search(docs, query, k=K).collect, rid=rid)


def append(run: Run, idx: str, new, rid=None):
    from oboyu_spark.operators.postings import append_docs

    frame = corpus.to_frame(run.spark, new)
    return run.call("postings.append_docs",
                    lambda: append_docs(frame, idx), rid=rid)


def sync(run: Run, idx: str, feed, rid=None):
    from oboyu_spark.operators.postings import sync_docs

    frame = corpus.to_frame(run.spark, feed)
    return run.call("postings.sync_docs", lambda: sync_docs(frame, idx),
                    rid=rid)


def bulk_queries(rng, n: int, sel_share: float) -> list[str]:
    """``n`` queries, ``sel_share`` of them selective, in seeded order."""
    hot = corpus.fixture_queries(int(rng.integers(1 << 30)))
    n_sel = round(n * sel_share)
    qs = ([corpus.selective_query(rng) for _ in range(n_sel)]
          + [hot[i] for i in rng.integers(len(hot), size=n - n_sel)])
    return [qs[i] for i in rng.permutation(n)]


def churn(rng, live, recent: int, new_rows):
    """A full feed after churn among the ``recent`` newest docs (a fifth
    of them deleted, a fifth modified) plus ``new_rows``: the input of
    a ``sync_docs`` with new, modified and deleted docs."""
    import pandas as pd

    u = np.ones(len(live))
    u[-recent:] = rng.random(recent)
    feed = live[u >= 0.2].copy()
    mod = (u[u >= 0.2] < 0.4)
    feed.loc[mod, "text"] = feed.loc[mod, "text"] + " churned edit"
    return pd.concat([feed, new_rows], ignore_index=True)


def bulk(run: Run) -> dict:
    pdf = corpus.make_corpus(run.spark, BULK_CONVS, run.seed)
    rel_pdf = pdf.sample(n=BULK_REL_DOCS, random_state=run.seed % (1 << 31))
    rel_path = run.path("rel_docs")
    corpus.to_frame(run.spark, rel_pdf).write.parquet(rel_path)
    rel_docs = run.spark.read.parquet(rel_path)
    rng = np.random.default_rng([run.seed, 11])
    setup_s = run.setup_done()
    log(f"set up in {setup_s:.1f}s")

    build_s, idx = _timed(lambda: build(run, pdf, "bulk_idx",
                                        shard_size=64_000, salt_chunk=500_000,
                                        shards_per_part=1))
    # the first search after a build pays one-time worker set-up
    # (imports, Arrow and parquet readers); keep it out of the samples
    oneshot(run, idx, corpus.selective_query(rng))
    fixtures = corpus.fixture_queries(run.seed)
    ops = {"oneshot": [], "batch": [], "relational": []}
    plan = BULK_CYCLE * cycles(run.seconds, BULK_CYCLE_S)
    for i, (kind, shape) in enumerate(plan):
        if kind == "oneshot":
            q = corpus.make_query(rng, shape, fixtures, "")
            s, rows = _timed(lambda: oneshot(run, idx, q, rid=i))
        elif kind == "batch":
            q = bulk_queries(rng, BATCH_QUERIES, BATCH_SEL_SHARE)
            s, rows = _timed(lambda: batch(run, idx, q, rid=i))
        else:
            q = corpus.make_query(rng, shape, fixtures, "")
            s, rows = _timed(lambda: relational(run, rel_docs, q, rid=i))
        ops[kind].append({"q": q, "rows": rows, "s": s})
    one = [o["s"] * 1e3 for o in ops["oneshot"]]
    m = {"setup_s": setup_s,
         "query_p50_ms": statistics.median(one),
         "query_p90_ms": p90(one),
         "queries_per_s": (BATCH_QUERIES * len(ops["batch"])
                           / sum(o["s"] for o in ops["batch"])),
         "alt_path_p50_ms": statistics.median(
             o["s"] * 1e3 for o in ops["relational"]),
         "build_docs_per_s": len(pdf) / build_s,
         "stored_bytes_per_input_byte": stored_ratio(idx, pdf)}
    run.context["named"] = {
        "oneshot_p50_ms": m["query_p50_ms"], "batch_qps": m["queries_per_s"],
        "relational_p50_ms": m["alt_path_p50_ms"],
        "build_docs_per_s": m["build_docs_per_s"],
        "stored_bytes_per_input_byte": m["stored_bytes_per_input_byte"],
        "reads": {k: len(v) for k, v in ops.items()},
    }
    run.attempted += 1 + len(plan)
    log("timed phase done")
    oracle = check.oracle_for(pdf)
    check_bulk(run, ops, oracle, len(pdf), rel_pdf, idx)
    return m, {"pdf": pdf, "idx": idx, "rel_docs": rel_docs,
               "oracle": oracle}


def _timed(fn):
    """(seconds, result) of one call."""
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _sample(rng, items: list, n: int) -> list:
    idx = rng.choice(len(items), size=min(n, len(items)), replace=False)
    return [items[i] for i in sorted(idx)]


def check_bulk(run: Run, ops, oracle, n_docs: int, rel_pdf,
               idx: str) -> None:
    """One-shot and batch results against the oracle over the indexed
    corpus; relational results against the oracle over its input."""
    from oboyu_spark.operators.postings import load_meta

    rng = np.random.default_rng([run.seed, 13])
    run.checked(load_meta(idx)["n_docs"] == n_docs)
    for o in _sample(rng, ops["oneshot"], BULK_CHECK_SAMPLE):
        got = [(r["doc_id"], r["score"]) for r in o["rows"]]
        run.checked(check.check_query(oracle, o["q"], got, K))
    for b in ops["batch"]:
        for qid in _sample(rng, list(range(len(b["q"]))), BULK_CHECK_SAMPLE):
            got = [(r["doc_id"], r["score"]) for r in b["rows"]
                   if r["query_id"] == qid]
            run.checked(check.check_query(oracle, b["q"][qid], got, K))
    rel_oracle = check.oracle_for(rel_pdf)
    for o in _sample(rng, ops["relational"], BULK_CHECK_SAMPLE):
        got = [(r["doc_id"], r["score"]) for r in o["rows"]]
        run.checked(check.check_query(rel_oracle, o["q"], got, K))


WORKLOADS = {"serve": serve, "bulk": bulk}
