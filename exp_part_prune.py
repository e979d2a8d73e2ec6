"""Part-level term-pruning A/B at multi-part scale (round-6 change).

The driver bench corpus builds ONE bpart (126k docs < the 160k-doc part
size), so the query-side win of part pruning — skip every bpart
directory containing no query term (VERDICT r5 #3: at 10^4+ parts the
per-part footer fan-out is the latency floor for selective queries) —
is invisible in BENCH_r*.json. This experiment builds the SAME corpus
into ~64 parts (shard_size=2000, shards_per_part=1) and measures cold
selective-query latency with pruning ON (default) vs OFF
(PART_PRUNE_MAX_UNION=-1 forces the legacy scan-everything path),
interleaved best-of per the BENCH.md noise protocol.

Honest scope: pruning helps only queries whose EVERY term is rare — a
hot term's postings necessarily live in every part, so mixed queries
correctly scan them all. The workload is therefore two-rare-term
queries (each zsel term has df=20, confined to 1-2 parts).

Run:  python exp_part_prune.py [--shard-size 2000]  (one JSON line)
      --shard-size 250 builds ~512 parts (r7: the scale where the
      per-part fan-out should clear the local noise floor even with
      warm footers — VERDICT r6 #3)
"""
import argparse
import json
import shutil
import statistics
import tempfile
import time

from pyspark.sql import functions as F

from oboyu_spark.operators import searchidx
from oboyu_spark.operators.postings import build_index
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.session import get_spark
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs


def host_bw():
    try:
        from host_controls import run_level

        run_level("bw", 8, 0.5)  # warm: first-touch fault tax (bench.py)
        return round(max(run_level("bw", 8, 2.0) for _ in range(2)) / 1e9, 2)
    except Exception:
        return None


ap = argparse.ArgumentParser()
ap.add_argument("--shard-size", type=int, default=2_000)
ap.add_argument("--keep-dir",
                help="build (or reuse) the index at this fixed path "
                     "instead of a throwaway tempdir — a 505-part "
                     "build takes ~10 min, the A/B seconds")
args = ap.parse_args()

spark = get_spark(app_name="part_prune_ab", cores="32")

tr = synthesize_transcripts(spark, n_convs=12000, max_turns=20, seed=42)
docs = turns_as_docs(tr).select("doc_id", "text")
rare = spark.range(400).select(
    F.format_string("rare#%04d", F.col("id")).alias("doc_id"),
    F.concat(
        F.format_string("zsel%02d", F.pmod(F.col("id"), F.lit(20))),
        F.lit(" spark index search engine"),
    ).alias("text"),
)
docs = docs.unionByName(rare)

out = {"bw_before": host_bw()}
idx = args.keep_dir or tempfile.mkdtemp(prefix="prune_ab_idx_")
try:
    import os

    from oboyu_spark.operators.postings import load_meta

    out["shard_size"] = args.shard_size
    if os.path.exists(f"{idx}/stats/meta.json"):
        meta = load_meta(idx)  # reuse kept index, skip the build
    else:
        t0 = time.time()
        meta = build_index(docs, idx, shard_size=args.shard_size,
                           salt_chunk=50_000, shards_per_part=1)
        out["build_seconds"] = round(time.time() - t0, 1)
    out["n_parts"] = meta["n_parts"]
    out["n_docs"] = meta["n_docs"]

    queries = [f"zsel{i:02d} zsel{(i + 7) % 20:02d}" for i in range(10)]

    def p50(q_list):
        lat = []
        for q in q_list:
            t1 = time.time()
            search_index(spark, idx, q, k=10).collect()
            lat.append(time.time() - t1)
        return round(statistics.median(lat), 4)

    p50(queries[:3])  # warmup (JIT + footer cache)
    parts_touched = searchidx._search(spark, meta, None, idx, queries[2],
                                      10, "taat")[1]["live_parts"]
    out["pruned_parts_touched"] = (
        len(parts_touched) if parts_touched is not None else None
    )

    default_union = searchidx.PART_PRUNE_MAX_UNION
    reps: dict[str, list[float]] = {"prune_on": [], "prune_off": []}
    for _ in range(3):
        for name, union_max in (("prune_on", default_union),
                                ("prune_off", -1)):
            searchidx.PART_PRUNE_MAX_UNION = union_max
            reps[name].append(p50(queries))
    searchidx.PART_PRUNE_MAX_UNION = default_union
    out["reps"] = reps
    out["p50_prune_on"] = min(reps["prune_on"])
    out["p50_prune_off"] = min(reps["prune_off"])
    out["speedup"] = round(out["p50_prune_off"] / out["p50_prune_on"], 2)

    # warm serving over the same many-part index (persisted relations
    # amortize discovery; caches amortize lookups) — the deployment
    # answer to the cold one-shot floor measured above
    from oboyu_spark.operators.searchidx import IndexReader

    reader = IndexReader(spark, idx)
    for q in queries[:3]:
        reader.search_rows(q, k=10)
    lat = []
    for q in queries:
        t1 = time.time()
        reader.search_rows(q, k=10)
        lat.append(time.time() - t1)
    out["warm_reader_p50"] = round(statistics.median(lat), 4)
    reader.close()
finally:
    if not args.keep_dir:
        shutil.rmtree(idx, ignore_errors=True)

out["bw_after"] = host_bw()
print(json.dumps(out))
