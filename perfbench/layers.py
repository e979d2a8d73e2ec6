"""Per-layer metrics of the traced run.

Spark work per layer comes from the spans recorded around the
benchmark's calls (``spans.py``). Where a workload does not call a
layer at all, the traced run calls it a few times on the workload's
own index and corpus (``probe`` spans), so every traced run reports
every layer. The Spark-free kernel timings read the workload's own
built index with pyarrow and run the engine's numpy kernels directly.
Nothing inside ``oboyu_spark`` is instrumented, and no metric reads the
engine's side channels (``_LAST_SCAN_INFO``, ``stage_seconds``, manifest
``step_seconds``, ``phase_seconds``).
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time

import numpy as np
import pandas as pd

from . import check, corpus, workloads as wl
from .spans import span_ms

SPARK_WORK = ("jobs", "stages", "tasks", "shuffle_write_mb",
              "shuffle_read_mb")
STORAGE = ("postings", "docmap", "vocabulary", "vocab_parts", "staged")
PROBE_DOCS = 10_000  # corpus slice for IVF / relational probes
TOKENIZE_DOCS = 20_000


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _timed_spans(spans):
    return [s for s in spans if s.get("rid") is not None]


def layer_metrics(run, state: dict) -> dict:
    T = run.tracer
    out: dict[str, float] = {}
    idx, pdf = state["idx"], state["pdf"]
    rng = np.random.default_rng([run.seed, 23])

    out["session.get_spark_s"] = span_ms(T.named("session.get_spark")[0]) / 1e3

    # -- similarity / hybrid / warm searchidx (serve; probed on bulk) --
    ivf_dir = state.get("ivf")
    if ivf_dir is None:
        ivf_dir = wl.build_ivf(run, pdf.head(PROBE_DOCS), "probe_ivf")
    out["similarity.ivf_build_s"] = span_ms(
        T.named("similarity.ivf_build")[0]) / 1e3
    records = state.get("records")
    if records is None:
        reader = wl.open_reader(run, idx, ivf_dir)
        records = wl.run_requests(run, reader, ivf_dir,
                                  wl.serve_stream(run.seed, 1))
        reader.close()
    req = _timed_spans(T.named("serve_index.handle_request"))
    warm = [s for s in req if s["kind"] != "hybrid"]
    out["searchidx.warm.ms"] = _median(span_ms(s) for s in warm)
    out["searchidx.warm.jobs"] = _median(s["jobs"] for s in warm)
    out["searchidx.warm.tasks"] = _median(s["tasks"] for s in warm)
    out["hybrid.folded_ms"] = _median(
        span_ms(s) for s in req if s["kind"] == "hybrid")
    out.update(repeat_shares(records))

    # -- one-shot / batch searchidx, relational bm25, append / sync
    # (bulk; probed on serve) --
    rel_docs = state.get("rel_docs")
    if rel_docs is None:
        path = run.path("probe_rel")
        corpus.to_frame(run.spark, pdf.head(PROBE_DOCS)).write.parquet(path)
        rel_docs = run.spark.read.parquet(path)
        for i in range(3):
            wl.oneshot(run, idx, corpus.selective_query(rng),
                       rid=f"probe{i}")
        wl.batch(run, idx, wl.bulk_queries(rng, 40, 0.7), rid="probe")
        for i in range(2):
            wl.relational(run, rel_docs, "spark query join", rid=f"probe{i}")
    for kind, unit, scale in (("oneshot", "ms", 1.0), ("batch", "s", 1e-3)):
        ss = _timed_spans(T.named("searchidx.search_index", kind=kind))
        out[f"searchidx.{kind}.{unit}"] = _median(span_ms(s) for s in ss) \
            * scale
        out[f"searchidx.{kind}.jobs"] = _median(s["jobs"] for s in ss)
        out[f"searchidx.{kind}.tasks"] = _median(s["tasks"] for s in ss)
    rel = _timed_spans(T.named("bm25.bm25_search"))
    out["bm25.search.ms"] = _median(span_ms(s) for s in rel)
    out["bm25.search.jobs"] = _median(s["jobs"] for s in rel)
    out["bm25.corpus_scans"] = corpus_scans(rel_docs)

    # -- termindex: tokenize the corpus (its first TOKENIZE_DOCS docs)
    # into a noop sink --
    from oboyu_spark.operators.termindex import with_tokens

    frame = corpus.to_frame(run.spark, pdf.head(TOKENIZE_DOCS))
    t = time.perf_counter()
    run.call("termindex.with_tokens", lambda: with_tokens(frame).write
             .format("noop").mode("overwrite").save(), rid="layer")
    out["termindex.tokenize_s"] = time.perf_counter() - t

    # -- postings storage and the Spark-free kernels, on the workload's
    # own index as its timed phase left it --
    for sub in STORAGE:
        out[f"postings.bytes.{sub}"] = float(
            wl.dir_bytes(os.path.join(idx, sub)))
    out["postings.files"] = float(sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(idx, "postings")) for f in fs))
    out.update(kernel_metrics(run, idx, pdf))

    # -- append / sync: neither workload writes after its build, so both
    # probe them: an append, then a sync of a full feed with new,
    # modified and deleted docs (with compaction). The warm reader is
    # closed first: while it is open with cached relations, append_docs
    # fails finalize_index's integrity check (README.md). --
    if state.get("reader") is not None:
        state["reader"].close()
    new = corpus.make_corpus(run.spark, 20, run.seed + 1, tag="new/")
    half = len(new) // 2
    wl.append(run, idx, new.iloc[:half], rid="probe")
    live = pd.concat([pdf, new.iloc[:half]], ignore_index=True)
    # the workload's oracle plus the appended docs is the oracle over
    # the live corpus; the sync deletes and modifies docs, so it needs a
    # fresh one
    oracle = state["oracle"]
    oracle.index(list(zip(new["doc_id"].iloc[:half],
                          new["text"].iloc[:half])))
    fixtures = corpus.fixture_queries(run.seed)
    check_live(run, idx, oracle,
               [corpus.make_query(rng, shape, fixtures, "")
                for shape in ("sel", "fixture")])
    feed = wl.churn(rng, live, 500, new.iloc[half:])
    res = wl.sync(run, idx, feed, rid="probe")
    run.checked(res["meta"]["n_docs"] == len(feed))
    check_live(run, idx, check.oracle_for(feed),
               [corpus.make_query(rng, "tail", fixtures, ""), "churned edit"])

    # -- postings: time and Spark work per build / append / sync call --
    for op, name in (("build", "postings.build_index"),
                     ("append", "postings.append_docs"),
                     ("sync", "postings.sync_docs")):
        ss = T.named(name)
        out[f"postings.{op}.s"] = _median(span_ms(s) for s in ss) / 1e3
        for w in SPARK_WORK:
            out[f"postings.{op}.{w}"] = _median(s[w] for s in ss)
    out["trace.overhead_per_span_ms"] = T.overhead_s * 1e3 / len(T.spans)
    return out


def check_live(run, idx: str, oracle, queries: list[str]) -> None:
    """One-shot searches of the written index against ``oracle``, the
    oracle over the live corpus: a write that keeps stale postings,
    misses a tombstone or gets df / avgdl wrong fails here."""
    for q in queries:
        rows = wl.oneshot(run, idx, q)
        got = [(r["doc_id"], r["score"]) for r in rows]
        run.attempted += 1
        run.checked(check.check_query(oracle, q, got, wl.K))


def repeat_shares(records) -> dict:
    """Workload shares that bound what the warm reader's caches can
    save: requests whose terms were all seen by an earlier request (df
    cache), and whose winners were all returned before (docmap cache)."""
    from oboyu_spark.functions.text import py_tokenize

    seen_t: set = set()
    seen_w: set = set()
    rep_t = rep_w = 0
    for r in records:
        terms = set(py_tokenize(r["req"]["query"]))
        wins = {x["doc_id"] for x in r["resp"].get("results", [])}
        rep_t += bool(terms) and terms <= seen_t
        rep_w += bool(wins) and wins <= seen_w
        seen_t |= terms
        seen_w |= wins
    n = max(1, len(records))
    return {"searchidx.warm.repeat_term_frac": rep_t / n,
            "searchidx.warm.repeat_winner_frac": rep_w / n}


def corpus_scans(rel_docs) -> float:
    """Scan nodes over the documents relation in the physical plan of
    one relational search."""
    from oboyu_spark.operators.bm25 import bm25_search

    plan = (bm25_search(rel_docs, "spark query join", k=wl.K)
            ._jdf.queryExecution().executedPlan().toString())
    return float(len(re.findall(r"FileScan parquet", plan)))


# ---------------------------------------------------------------------------
# Spark-free kernels over the workload's own index
# ---------------------------------------------------------------------------

def _term_hash(t: str) -> tuple[int, int]:
    from oboyu_spark.functions.hashing import (
        spark_xxhash64_str, spark_xxhash64_str_int,
    )
    from oboyu_spark.operators.postings import TERM_HASH_SEED2

    return spark_xxhash64_str(t), spark_xxhash64_str_int(t, TERM_HASH_SEED2)


def kernel_metrics(run, idx: str, pdf) -> dict:
    import pyarrow.parquet as pq

    from oboyu_spark.functions.text import py_tokenize
    from oboyu_spark.operators.codec import (
        decode_doc_ids, decode_varbyte, encode_doc_ids, encode_varbyte,
    )
    from oboyu_spark.operators.postings import load_meta
    from oboyu_spark.operators.searchidx import make_taat_scorer
    from oboyu_spark.operators.wand import make_bmw_scorer

    out = {}
    texts = list(pdf["text"].head(TOKENIZE_DOCS))
    t = time.perf_counter()
    n_tok = sum(len(py_tokenize(x)) for x in texts)
    out["text.py_tokenize_ktok_per_s"] = n_tok / 1e3 / (
        time.perf_counter() - t)

    post = pq.read_table(os.path.join(idx, "postings")).to_pandas()
    t = time.perf_counter()
    dec = [(decode_doc_ids(g), decode_varbyte(f), decode_varbyte(d))
           for g, f, d in zip(post["gaps"], post["tfs"], post["dls"])]
    dec_s = time.perf_counter() - t
    n_post = sum(x[0].size for x in dec)
    t = time.perf_counter()
    for ids, tfs, dls in dec:
        encode_doc_ids(ids), encode_varbyte(tfs), encode_varbyte(dls)
    enc_s = time.perf_counter() - t
    out["codec.decode_mpost_per_s"] = n_post / 1e6 / dec_s
    out["codec.encode_mpost_per_s"] = n_post / 1e6 / enc_s
    out["codec.bytes_per_posting"] = sum(
        len(g) + len(f) + len(d)
        for g, f, d in zip(post["gaps"], post["tfs"], post["dls"])) / n_post

    # one scorer batch: the same qmap / idf inputs the query path builds
    meta = load_meta(idx)
    vocab = pq.read_table(os.path.join(idx, "vocabulary"),
                          columns=["th1", "th2", "document_frequency"])
    df = {(a, b): c for a, b, c in zip(*(vocab.column(i).to_pylist()
                                         for i in range(3)))}
    rng = np.random.default_rng([run.seed, 29])
    queries = wl.bulk_queries(rng, 16, 0.5)
    n_docs = meta["n_docs"]
    qmap, idf = {}, {}
    for qid, q in enumerate(queries):
        counts: dict = {}
        for term in py_tokenize(q):
            h = _term_hash(term)
            if h in df:
                counts[h] = counts.get(h, 0) + 1
                idf[h] = math.log((n_docs - df[h] + 0.5) / (df[h] + 0.5))
        qmap[qid] = sorted(counts.items())
    args = (qmap, idf, meta["k1"], meta["b"], meta["avgdl"], wl.K,
            meta["shard_size"])
    taat, bmw = make_taat_scorer(*args), make_bmw_scorer(*args)
    live = post[post["th1"].isin({h[0] for h in idf})]
    taat_s = bmw_s = 0.0
    for _, frame in live.groupby("shard"):
        frame = frame.reset_index(drop=True)
        t = time.perf_counter()
        a = taat(frame)
        taat_s += time.perf_counter() - t
        t = time.perf_counter()
        b = bmw(frame)
        bmw_s += time.perf_counter() - t
        for qid in qmap:
            run.checked(check.topk_matches(
                _rows(b, qid), _rows(a, qid), wl.K))
    out["searchidx.taat_kernel_ms"] = taat_s * 1e3
    out["wand.bmw_kernel_ms"] = bmw_s * 1e3
    out["searchidx.scatter_floor_ms"] = scatter_floor(
        run, idx, sorted({h[0] for h in idf}))
    return out


def _rows(frame, qid: int):
    sel = frame[frame["query_id"] == qid]
    return list(zip(sel["doc_int"], sel["score"]))


def scatter_floor(run, idx: str, live_h1: list[int]) -> float:
    """The query path's ``groupBy("shard").applyInPandas`` over the same
    filtered postings, with a function that returns an empty frame: the
    Spark cost of a scatter with no scoring work."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.searchidx import RESULT_SCHEMA

    def empty(_pdf):
        return pd.DataFrame({"query_id": pd.Series([], dtype="int32"),
                             "doc_int": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})

    post = (run.spark.read.parquet(os.path.join(idx, "postings"))
            .filter(F.col("th1").isin(live_h1)))
    ms = []
    for i in range(3):
        t = time.perf_counter()
        run.call("searchidx.scatter_floor",
                 post.groupBy("shard").applyInPandas(empty, RESULT_SCHEMA)
                 .collect, rid=f"floor{i}")
        ms.append((time.perf_counter() - t) * 1e3)
    return statistics.median(ms)
