"""Seeded inputs: the corpus and the query streams the workloads send.

The corpus starts from ``sources.transcripts.synthesize_transcripts``
(Japanese and English turns with CRLF / double-space dirt) and adds:

- a Zipf-distributed tail vocabulary appended to a share of turns, so
  queries see a realistic spread of document frequency (the template
  vocabulary alone has 44 hot words);
- the rare ``zselNN`` spike-in docs of ``bench.py`` (selective terms,
  the shape block-max pruning exists for);
- extra empty turns.

Everything derives from the ``--seed`` argument; the engine only ever
receives the generated rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TAIL_VOCAB = 3000  # distinct tail words
TAIL_SHARE = 0.35  # share of turns that get tail words appended
ZIPF_S = 1.1
N_SEL = 20  # zsel00 .. zsel19
HOT_WORDS = "spark index search query engine shuffle partition driver".split()
JA_WORDS = "検索 索引 分散 処理 高速 文書".split()


def tail_word(rank: int) -> str:
    return f"tl{rank:04d}x"


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int,
               s: float = ZIPF_S) -> np.ndarray:
    """``size`` draws of ranks 0..n_items-1 with P(r) ∝ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def make_corpus(spark, n_convs: int, seed: int, tag: str = "") -> pd.DataFrame:
    """(doc_id, text) rows of one seeded corpus, driver-side."""
    from oboyu_spark.sources.transcripts import (
        synthesize_transcripts, turns_as_docs,
    )

    rng = np.random.default_rng([seed, n_convs])
    pdf = (turns_as_docs(synthesize_transcripts(spark, n_convs=n_convs,
                                                max_turns=20, seed=seed))
           .select("doc_id", "text").toPandas())
    pdf = pdf.sort_values("doc_id", ignore_index=True)
    text = pdf["text"].fillna("").to_numpy(dtype=object)
    pick = np.flatnonzero(rng.random(len(text)) < TAIL_SHARE)
    n_tail = rng.integers(1, 4, size=pick.size)
    ranks = zipf_ranks(rng, TAIL_VOCAB, int(n_tail.sum()))
    pos = 0
    for i, n in zip(pick, n_tail):
        words = " ".join(tail_word(r) for r in ranks[pos:pos + n])
        text[i] = f"{text[i]} {words}" if text[i] else words
        pos += n
    n_sel = max(40, len(text) // 300)
    sel = [(f"rare#{i:05d}",
            f"zsel{i % N_SEL:02d} spark index search engine 検索 分散")
           for i in range(n_sel)]
    n_empty = max(10, len(text) // 100)
    empty = [(f"empty#{i:05d}", "") for i in range(n_empty)]
    extra = pd.DataFrame(sel + empty, columns=["doc_id", "text"])
    out = pd.concat([pd.DataFrame({"doc_id": pdf["doc_id"], "text": text}),
                     extra], ignore_index=True)
    if tag:
        out["doc_id"] = tag + out["doc_id"]
    return out


def to_frame(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, "doc_id string, text string")


def fixture_queries(seed: int) -> list[str]:
    from oboyu_spark.sources.queries import generate_queries

    return [q["text"] for q in generate_queries(seed)]


QUERY_KINDS = ("fixture", "tail", "sel", "dup", "unseen")


def make_query(rng: np.random.Generator, kind: str, fixtures: list[str],
               tag: str) -> str:
    """One query of a shape the engine handles differently: fixture
    queries (hot template terms), tail-term queries (mid/low df),
    selective ``zselNN`` queries, duplicate-term queries (query tf > 1)
    and never-seen terms (empty result; ``tag`` keeps them distinct)."""
    if kind == "fixture":
        return fixtures[rng.integers(len(fixtures))]
    if kind == "tail":
        r = zipf_ranks(rng, TAIL_VOCAB, rng.integers(1, 3))
        return " ".join([tail_word(x) for x in r]
                        + list(rng.choice(HOT_WORDS, rng.integers(0, 2))))
    if kind == "sel":
        return (f"zsel{rng.integers(N_SEL):02d} "
                + " ".join(rng.choice(HOT_WORDS, rng.integers(1, 4))))
    if kind == "dup":
        w = rng.choice(HOT_WORDS + JA_WORDS)
        return f"{w} {w} {rng.choice(HOT_WORDS)}"
    return f"qzq{tag}"


def selective_query(rng: np.random.Generator) -> str:
    return (f"zsel{rng.integers(N_SEL):02d} "
            + " ".join(rng.choice(HOT_WORDS, 3, replace=False)))
