"""Output check against the repo's pure-Python BM25 oracle.

Scores are rounded to 6 decimals on both sides and results ordered by
(score desc, doc_id asc). A result is correct when it is a valid top-k
of the oracle's ranking under that order: every rank above the k-th
score matches exactly, and the docs tied at the k-th score are drawn
from the oracle's docs with that score (which of several tied docs the
cut keeps is not fixed by rounded scores).
"""

from __future__ import annotations

from oboyu_spark.oracle.pybm25 import PyBM25


def oracle_for(pdf) -> PyBM25:
    o = PyBM25()
    o.index(list(zip(pdf["doc_id"], pdf["text"])))
    return o


def _rounded(rows) -> list[tuple[float, str]]:
    return sorted(((round(float(s), 6), str(d)) for d, s in rows),
                  key=lambda t: (-t[0], t[1]))


def topk_matches(got, expected_all, k: int) -> bool:
    """``got``: engine (doc_id, score) rows; ``expected_all``: the
    oracle's full ranking (doc_id, score)."""
    g = _rounded(got)
    e = _rounded(expected_all)
    if len(g) != min(k, len(e)):
        return False
    if not g:
        return True
    cut = g[-1][0]
    if [s for s, _ in g] != [s for s, _ in e[:len(g)]]:
        return False
    above = [t for t in g if t[0] > cut]
    if above != e[:len(above)]:
        return False
    tied = {d for s, d in e if s == cut}
    return all(d in tied for s, d in g if s == cut)


def check_query(oracle: PyBM25, query: str, got, k: int,
                mode: str = "or") -> bool:
    return topk_matches(got, oracle.search(query, k=10**9, mode=mode), k)


def check_fused(got, expected) -> bool:
    return _rounded(got) == _rounded(expected)
